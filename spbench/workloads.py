"""The workloads: geo_batch and curation.

Each workload turns its seed into inputs (gen.py), writes them under
the run directory, loads them and builds its build-once state in
``setup``, and runs one closed-loop *pass* at a time: a batch of ops
over the next input shard, then `requests_per_pass` requests on fresh
query batches. Every op is one call into sparkspatial plus the action
that collects its output, timed as a whole. Outputs are checked
against the references in refs.py outside the timed region.

Why these two: geo_batch is the paper's pages/sec job and the only
one where extract, join, skew, tiles, checkpoint and knn do the work;
its requests (knn_join, nearest_zone_polygons, a probe-side
spatial_join on a small query batch) are the regime where per-call
fixed cost dominates. curation runs text and sim, which the
geo workload never touches, so a geo-only change should read
unchanged there.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd

from . import gen, refs

ZONE_RES = 10          # zone-index resolution (cells ~0.35 deg)
TILE_RES, TILE_PARENT = 9, 5
KNN_RES, KNN_K = 6, 5  # kNN cells ~5.6 x 2.8 deg, sized to the point spacing
HOT_THRESHOLD = 1000   # est. rows per cell that count as hot (see geo_batch)
MINHASH_N, LSH_BANDS, SHINGLE_K = 16, 4, 5
COSINE_K = 10
INPUT_FILES = 8        # files per bulk input: a scan of it is 8 tasks


@dataclass
class OpResult:
    name: str
    seconds: float
    driver_cpu_s: float
    rows_out: int
    ok: bool
    exact: bool
    request: int | None   # request id for query ops, None for batch ops
    error: str | None = None


@dataclass
class UnitResult:
    index: int
    rows_in: int
    ops: list[OpResult] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.ops)

    @property
    def batch_s(self) -> float:
        return sum(o.seconds for o in self.ops if o.request is None)

    def request_s(self) -> list[float]:
        """Latency of each request of the unit (sum of its ops)."""
        lat: dict[int, float] = {}
        for o in self.ops:
            if o.request is not None:
                lat[o.request] = lat.get(o.request, 0.0) + o.seconds
        return list(lat.values())


def _write_parquet(pdf: pd.DataFrame, path: str, n_files: int = 1) -> str:
    """Write pdf as n_files parquet files of consecutive rows (a small
    file is one Spark task, so a bulk input needs several to use every
    core)."""
    if not os.path.exists(os.path.join(path, "_DONE")):
        os.makedirs(path, exist_ok=True)
        step = -(-len(pdf) // n_files)
        for k in range(n_files):
            pdf.iloc[k * step:(k + 1) * step].to_parquet(
                os.path.join(path, f"part-{k}.parquet"), index=False)
        open(os.path.join(path, "_DONE"), "w").close()
    return path


class Workload:
    name = ""
    n_shards = 8           # input shards per seed, rotated pass by pass
    requests_per_pass = 1  # fresh query batches answered after each pass

    def __init__(self, seed: int, run_dir: str, cache: refs.RefCache):
        self.seed = seed
        self.dir = os.path.join(run_dir, f"{self.name}-s{seed}-g{gen.GEN_VERSION}")
        os.makedirs(self.dir, exist_ok=True)
        self.cache = cache
        self.spark = None
        self.tr = None
        self._persisted: list = []

    def ref(self, item: str, build):
        return self.cache.get(f"{self.name}/{self.seed}/{item}", build)

    # op runner --------------------------------------------------------
    def op(self, unit: UnitResult, name: str, make_df, ref, persist=False,
           request=None):
        """Time make_df() + collect; check against (ref_frame, digest).
        `request` marks the ops of one of the unit's requests
        (query_s_p50); the others are its batch pass (rows_per_s).
        Returns the (persisted) DataFrame for later ops, or None."""
        c0, t0 = time.process_time(), time.monotonic()
        df, pdf, err = None, None, None
        try:
            with self.tr.span(name, request=unit.index):
                df = make_df()
                if persist:
                    df = df.persist()
                pdf = df.toPandas()
        except Exception as e:  # an op that raises counts as failed
            err = f"{type(e).__name__}: {e}"[:300]
        dt, dc = time.monotonic() - t0, time.process_time() - c0
        if persist and df is not None:
            self._persisted.append(df)
        ok = exact = False
        if err is None:
            ref_df, ref_dg = ref
            ok, exact = refs.matches(pdf, ref_df, ref_dg)
            if not ok:
                err = "digest mismatch"
        unit.ops.append(OpResult(name, dt, dc, 0 if pdf is None else len(pdf),
                                 ok, exact, request, err))
        return df

    def end_unit(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    @staticmethod
    def with_digest(pdf: pd.DataFrame) -> tuple[pd.DataFrame, str]:
        return pdf, refs.digest(pdf)

    # interface --------------------------------------------------------
    def setup(self, spark, tr) -> None:
        raise NotImplementedError

    def unit(self, i: int) -> UnitResult:
        raise NotImplementedError

    def prepare(self) -> None:
        """Compute (or load cached) references; not part of set-up."""

    def traced_extras(self, i: int) -> dict:
        """Extra calls made only in traced runs (per-layer counters)."""
        return {}

    def teardown(self) -> None:
        self.end_unit()


# ---------------------------------------------------------------- geo_batch

class GeoBatch(Workload):
    """Closed loop of batch passes over rotating page shards:
    extract -> broadcast join (prebuilt ZoneIndex) -> tile rollup ->
    checkpointed page/zone/tile assignments -> salted shuffle join; then
    the pass's requests: fresh seeded query batches, each answered by
    knn_join (prebuilt KnnIndex), nearest_zone_polygons and a
    probe-side spatial_join.

    The salted join passes hot_relative=False with a small
    HOT_THRESHOLD, as the repo's own salted oracle query does: at this
    input size the relative criterion would never salt, and the hot
    cells around the 25 dense centers are the skew ROADMAP item 3
    (salting vs AQE) is judged on."""

    name = "geo_batch"
    n_shards = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.zones_pdf = gen.zones(self.seed)
        self.rings = gen.zone_rings(self.zones_pdf)
        self.zones_path = _write_parquet(self.zones_pdf,
                                         os.path.join(self.dir, "zones"))
        self.points_pdf = gen.knn_points(self.seed)
        self.points_path = _write_parquet(self.points_pdf,
                                          os.path.join(self.dir, "points"),
                                          INPUT_FILES)
        self.shard_paths, self._truth = [], {}
        for s in range(self.n_shards):
            p = os.path.join(self.dir, f"pages-{s}")
            if not os.path.exists(os.path.join(p, "_DONE")):
                pdf, self._truth[s] = gen.pages(self.seed, s)
                _write_parquet(pdf, p, INPUT_FILES)
            self.shard_paths.append(p)

    def _refs(self, s: int) -> dict:
        def build():
            truth = self._truth.pop(s, None)
            if truth is None:
                truth = gen.pages(self.seed, s)[1]
            joined = refs.spatial_join(truth, self.rings, self.zones_pdf)
            return {
                "n_pages": gen.PAGES_PER_SHARD,
                "extract": self.with_digest(truth),
                "join": self.with_digest(joined),
                "rollup": self.with_digest(
                    refs.tile_rollup(joined, TILE_RES, TILE_PARENT)),
                "stage": self.with_digest(
                    refs.tile_assignments(joined, TILE_RES, TILE_PARENT)),
            }
        return self.ref(f"shard{s}", build)

    def request_refs(self, i: int) -> dict:
        def build():
            q = gen.query_batch(self.seed, i)
            pts = q.rename(columns={"qid": "url", "qlat": "lat", "qlon": "lon"})
            return {
                "q": q,
                "knn": self.with_digest(refs.knn(self.points_pdf, q, KNN_K)),
                "nearest": self.with_digest(refs.nearest_zone(pts, self.rings)),
                "join": self.with_digest(
                    refs.spatial_join(pts, self.rings, self.zones_pdf)),
            }
        return self.ref(f"request{i}", build)

    def setup(self, spark, tr) -> None:
        from sparkspatial import checkpoint, join, knn

        self.spark, self.tr = spark, tr
        zdf = spark.read.parquet(self.zones_path).persist()
        zdf.count()
        self.zdf = zdf
        self.points = spark.read.parquet(self.points_path).persist()
        self.points.count()
        with tr.span("join.build_zone_index"):
            self.zidx = join.build_zone_index(zdf, res=ZONE_RES).persist()
        with tr.span("knn.build_knn_index"):
            self.kidx = knn.build_knn_index(self.points, res=KNN_RES,
                                            k_max=KNN_K).persist()
        self.ckpt = checkpoint.Checkpointer(os.path.join(self.dir, "ckpt"), spark)
        self.stage_calls = 0

    def unit(self, i: int) -> UnitResult:
        from pyspark.sql import functions as F

        from sparkspatial import extract, join, tiles

        s = i % self.n_shards
        r = self.refs[s]
        u = UnitResult(i, r["n_pages"])
        pages = self.spark.read.parquet(self.shard_paths[s])
        pts = self.op(u, "extract.extract_points",
                      lambda: extract.extract_points(pages), r["extract"],
                      persist=True)
        if pts is None:
            return u
        self._pts = pts
        joined = self.op(
            u, "join.spatial_join",
            lambda: join.spatial_join(pts, self.zdf, broadcast=True,
                                      index=self.zidx),
            r["join"], persist=True)
        if joined is None:
            return u

        def rollup():
            fine = (tiles.assign_cells(joined, TILE_RES)
                    .groupBy("cell").agg(F.count(F.lit(1)).alias("n")))
            return (fine.withColumn("p", tiles.parent_col("cell", TILE_RES,
                                                          TILE_PARENT))
                    .groupBy("p").agg(F.sum("n").alias("n")))

        self.op(u, "tiles.rollup", rollup, r["rollup"])

        def stage():
            assigned = (tiles.assign_cells(joined, TILE_RES)
                        .withColumn("tile", tiles.parent_col(
                            "cell", TILE_RES, TILE_PARENT)))
            # a fresh fingerprint per call: every pass writes, also a
            # traced pass that repeats an untraced one's inputs
            self.stage_calls += 1
            return self.ckpt.stage(assigned, "assign",
                                   f"{self.seed}-{self.stage_calls}")

        self.op(u, "checkpoint.stage", stage, r["stage"])
        self.op(u, "join.spatial_join.salted",
                lambda: join.spatial_join(
                    pts, self.zdf, broadcast=False, salt=True,
                    hot_threshold=HOT_THRESHOLD, hot_relative=False,
                    index=self.zidx),
                r["join"])
        for j in range(self.requests_per_pass):
            self.request(u, self.requests_per_pass * i + j)
        return u

    def request(self, u: UnitResult, q: int) -> None:
        """One small query batch: kNN against the prebuilt KnnIndex,
        nearest polygon zone, and a probe-side spatial join."""
        from sparkspatial import join, knn

        r = self.request_refs(q)
        qdf = self.spark.createDataFrame(r["q"])
        pts = qdf.selectExpr("qid AS url", "qlat AS lat", "qlon AS lon")
        self.op(u, "knn.knn_join",
                lambda: knn.knn_join(self.points, qdf, KNN_K, res=KNN_RES,
                                     index=self.kidx), r["knn"], request=q)
        self.op(u, "join.nearest_zone_polygons",
                lambda: join.nearest_zone_polygons(pts, self.zdf), r["nearest"],
                request=q)
        self.op(u, "join.spatial_join.probe",
                lambda: join.spatial_join(pts, self.zdf, broadcast=True,
                                          index=self.zidx), r["join"],
                request=q)

    def stage_files(self) -> tuple[int, int]:
        """(parquet files, bytes) of the newest staged attempt."""
        dirs = sorted(glob.glob(os.path.join(self.dir, "ckpt", "assign", "data-*")),
                      key=os.path.getmtime)
        if not dirs:
            return 0, 0
        files = glob.glob(os.path.join(dirs[-1], "*.parquet"))
        return len(files), sum(os.path.getsize(f) for f in files)

    def prepare(self) -> None:
        self.refs = [self._refs(s) for s in range(self.n_shards)]

    def traced_extras(self, i: int) -> dict:
        """Refine candidates (bbox refine) and the salt plan's hot cells
        for this pass's points — counters the timed ops do not expose."""
        from sparkspatial import join, skew

        pts = self._pts
        out = {}
        if not hasattr(self, "zidx_bbox"):
            self.zidx_bbox = join.build_zone_index(
                self.zdf, res=ZONE_RES, refine="bbox").persist()
        with self.tr.span("join.spatial_join.bbox", request=i):
            out["candidates"] = join.spatial_join(
                pts, self.zdf, broadcast=True, refine="bbox",
                index=self.zidx_bbox).count()
        with self.tr.span("skew.cell_histogram", request=i):
            hist = skew.cell_histogram(
                join.point_cells(pts, [self.zidx.res]), "cell",
                sample_fraction=0.01, min_count=1).localCheckpoint(eager=True)
        with self.tr.span("skew.plan_salts", request=i):
            out["hot_cells"] = skew.plan_salts(
                hist, "cell", hot_threshold=HOT_THRESHOLD).count()
        out["stage_files"], out["stage_bytes"] = self.stage_files()
        return out

    def teardown(self) -> None:
        super().teardown()
        self.zidx.release()
        self.kidx.release()
        if hasattr(self, "zidx_bbox"):
            self.zidx_bbox.release()
            del self.zidx_bbox
        self.points.unpersist()
        self.zdf.unpersist()
        shutil.rmtree(os.path.join(self.dir, "ckpt"), ignore_errors=True)


# ----------------------------------------------------------------- curation

class Curation(Workload):
    """Batch passes over rotating long-document shards: decontaminate
    (prebuilt eval shingle hashes), trigram familiarity, MinHash + LSH
    candidate pairs and line dedup; each of the pass's requests is
    cosine top-k for a fresh query-vector batch against a fixed
    embedding table."""

    name = "curation"
    n_shards = 4
    requests_per_pass = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.eval_path = _write_parquet(gen.eval_docs(self.seed),
                                        os.path.join(self.dir, "eval"))
        self.emb_path = _write_parquet(gen.embeddings(self.seed),
                                       os.path.join(self.dir, "emb"),
                                       INPUT_FILES)
        self.shard_paths = []
        for s in range(self.n_shards):
            p = os.path.join(self.dir, f"docs-{s}")
            if not os.path.exists(os.path.join(p, "_DONE")):
                _write_parquet(gen.docs(self.seed, s), p, INPUT_FILES)
            self.shard_paths.append(p)

    def _refs(self, s: int) -> dict:
        def build():
            d = pd.read_parquet(self.shard_paths[s])
            t = refs.text_refs(d, gen.eval_docs(self.seed), n_hashes=MINHASH_N,
                               bands=LSH_BANDS, shingle_k=SHINGLE_K)
            out = {k: self.with_digest(v) for k, v in t.items()}
            out["n_docs"] = len(d)
            return out
        return self.ref(f"shard{s}", build)

    def _cos_ref(self, i: int):
        def build():
            qv = gen.query_vectors(self.seed, i)
            return qv, self.with_digest(
                refs.cosine_topk(self._emb_pdf(), qv, COSINE_K))
        return self.ref(f"cos{i}", build)

    def _emb_pdf(self) -> pd.DataFrame:
        if not hasattr(self, "_emb"):
            self._emb = gen.embeddings(self.seed)
        return self._emb

    def setup(self, spark, tr) -> None:
        from sparkspatial import text

        self.spark, self.tr = spark, tr
        ev = spark.read.parquet(self.eval_path)
        with tr.span("text.eval_shingle_hashes"):
            self.ev_hashes = text.eval_shingle_hashes(
                ev, shingle_k=SHINGLE_K).persist()
            self.ev_hashes.count()
        self.emb = spark.read.parquet(self.emb_path).persist()
        self.emb.count()

    def prepare(self) -> None:
        self.refs = [self._refs(s) for s in range(self.n_shards)]

    def unit(self, i: int) -> UnitResult:
        from sparkspatial import sim, text
        from sparkspatial import session as ss

        s = i % self.n_shards
        r = self.refs[s]
        u = UnitResult(i, r["n_docs"])
        docs = self.spark.read.parquet(self.shard_paths[s])
        self.op(u, "text.decontaminate",
                lambda: text.decontaminate(docs, None, shingle_k=SHINGLE_K,
                                           eval_hashes=self.ev_hashes),
                r["decontaminate"])
        self.op(u, "text.trigram_familiarity",
                lambda: text.trigram_familiarity(docs), r["trigram_familiarity"])
        self.op(u, "text.lsh_candidate_pairs",
                lambda: text.lsh_candidate_pairs(
                    text.minhash_signatures(docs, n_hashes=MINHASH_N),
                    bands=LSH_BANDS), r["lsh_pairs"])
        ss.unpersist_all()  # lsh_candidate_pairs pins its band table
        self.op(u, "text.line_dedup", lambda: text.line_dedup(docs),
                r["line_dedup"])
        for j in range(self.requests_per_pass):
            q = self.requests_per_pass * i + j
            qv, cos_ref = self._cos_ref(q)
            qdf = self.spark.createDataFrame(qv)
            self.op(u, "sim.cosine_topk",
                    lambda: sim.cosine_topk(self.emb, qdf, COSINE_K), cos_ref,
                    request=q)
        return u

    def dots_per_call(self) -> int:
        return gen.N_VECTORS * gen.QVECS_PER_PASS

    def teardown(self) -> None:
        super().teardown()
        self.ev_hashes.unpersist()
        self.emb.unpersist()


WORKLOADS = {w.name: w for w in (GeoBatch, Curation)}
