"""Output digests and reference answers from engines other than Spark.

Every timed op's output is collected and reduced to an
order-independent digest over all of its columns; the reference is
computed from the generator's inputs with numpy (geo ops, cosine
top-k) or DuckDB running sparkspatial's ``*_duckdb_sql`` twins (text
ops), never with the Spark path under test. References depend only on
the seed and GEN_VERSION / REF_VERSION, so they are cached under that
key and never under a commit.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import re
from collections import Counter

import numpy as np
import pandas as pd

from . import gen

REF_VERSION = 1

# floats keep 30 significant bits (~9 decimal digits) in the digest:
# engines may differ in the last ulps of libm / BLAS results
FLOAT_BITS = 30
FALLBACK_RTOL = 1e-9   # float tolerance of matches()' row-aligned fallback
EARTH_RADIUS_M = 6371008.8  # the radius sparkspatial's haversine uses


# ------------------------------------------------------------------ digest

def _canon_col(s: pd.Series) -> pd.Series:
    if pd.api.types.is_bool_dtype(s):
        return s.astype(np.int64)
    if pd.api.types.is_integer_dtype(s):
        return s.astype(np.int64)
    if pd.api.types.is_float_dtype(s):
        m, e = np.frexp(s.to_numpy(np.float64))
        q = np.round(m * float(1 << FLOAT_BITS)).astype(np.int64)
        return pd.Series(q * 4096 + e.astype(np.int64), index=s.index)
    return s.map(_canon_obj)


def _canon_obj(v):
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return repr([_canon_obj(x) for x in v])
    if isinstance(v, (np.integer,)):
        return int(v)
    return v if isinstance(v, str) else repr(v)


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, every value in a hashable exact form."""
    cols = sorted(df.columns)
    return pd.DataFrame({c: _canon_col(df[c].reset_index(drop=True))
                         for c in cols})


def digest(df: pd.DataFrame) -> str:
    """Order-independent multiset digest of a frame: row count, column
    names and the wrapping uint64 sum of per-row hashes."""
    c = canonical(df)
    h = pd.util.hash_pandas_object(c, index=False).to_numpy(np.uint64) \
        if len(c) else np.zeros(0, np.uint64)
    total = int(h.sum(dtype=np.uint64)) if len(h) else 0
    return f"{len(c)}:{','.join(c.columns)}:{total:016x}"


def _sorted_rows(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    keys = [c for c in cols if not pd.api.types.is_float_dtype(df[c])]
    obj = df[cols].copy()
    for c in keys:
        obj[c] = _canon_col(obj[c])
    return obj.sort_values(cols, kind="mergesort").reset_index(drop=True)


def matches(out: pd.DataFrame, ref: pd.DataFrame, ref_digest: str
            ) -> tuple[bool, bool]:
    """(ok, exact): exact when the digests agree. A digest mismatch
    falls back to a row-aligned comparison with floats within
    FALLBACK_RTOL, which absorbs a value straddling a quantisation edge
    but still fails any row, key or count that differs."""
    if digest(out) == ref_digest:
        return True, True
    if sorted(out.columns) != sorted(ref.columns) or len(out) != len(ref):
        return False, False
    a, b = _sorted_rows(out), _sorted_rows(ref)
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            if not np.allclose(x.to_numpy(np.float64), y.to_numpy(np.float64),
                               rtol=FALLBACK_RTOL, atol=1e-12):
                return False, False
        elif not (x.to_numpy() == y.to_numpy()).all():
            return False, False
    return True, False


# ------------------------------------------------------------- geo (numpy)

def points_in_rings(px: np.ndarray, py: np.ndarray,
                    rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd ray casting over every ring edge (half-open crossing
    test, the same expression shape as sparkspatial's)."""
    inside = np.zeros(len(px), dtype=bool)
    for r in rings:
        x0, y0, x1, y1 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        for e in range(len(x0)):
            straddle = (y0[e] > py) != (y1[e] > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xc = x0[e] + (py - y0[e]) / (y1[e] - y0[e]) * (x1[e] - x0[e])
            inside ^= straddle & (px < xc)
    return inside


def spatial_join(pts: pd.DataFrame, rings: dict, zdf: pd.DataFrame
                 ) -> pd.DataFrame:
    """(url, lat, lon, zone_id) for every (point, containing zone)."""
    px, py = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    parts = []
    for z in zdf.itertuples(index=False):
        cand = (px >= z.minx) & (px <= z.maxx) & (py >= z.miny) & (py <= z.maxy)
        idx = np.flatnonzero(cand)
        hit = idx[points_in_rings(px[idx], py[idx], rings[z.zone_id])]
        if len(hit):
            parts.append(pts.iloc[hit][["url", "lat", "lon"]]
                         .assign(zone_id=z.zone_id))
    if not parts:
        return pd.DataFrame({"url": [], "lat": [], "lon": [], "zone_id": []})
    return pd.concat(parts, ignore_index=True)


def cell_ids(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """The documented int64 cell id: (res << 58) | (y << 29) | x."""
    n = 1 << res
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return (np.int64(res) << 58) | (y << 29) | x


def parent_ids(cell: np.ndarray, child_res: int, parent_res: int) -> np.ndarray:
    shift = child_res - parent_res
    mask = (1 << 29) - 1
    x = (cell & mask) >> shift
    y = ((cell >> 29) & mask) >> shift
    return (np.int64(parent_res) << 58) | (y << 29) | x


def tile_rollup(joined: pd.DataFrame, res: int, parent_res: int
                ) -> pd.DataFrame:
    """(p, n): per-parent-tile match counts."""
    p = parent_ids(cell_ids(joined["lat"].to_numpy(), joined["lon"].to_numpy(),
                            res), res, parent_res)
    vc = pd.Series(p).value_counts()
    return pd.DataFrame({"p": vc.index.to_numpy(np.int64),
                         "n": vc.to_numpy(np.int64)})


def tile_assignments(joined: pd.DataFrame, res: int, parent_res: int
                     ) -> pd.DataFrame:
    """The staged page -> zone -> tile rows."""
    cell = cell_ids(joined["lat"].to_numpy(), joined["lon"].to_numpy(), res)
    return joined.assign(cell=cell, tile=parent_ids(cell, res, parent_res))


def haversine_m(lat1, lon1, lat2, lon2):
    r = np.pi / 180.0
    a = (np.sin((lat2 - lat1) * r / 2) ** 2
         + np.cos(lat1 * r) * np.cos(lat2 * r)
         * np.sin((lon2 - lon1) * r / 2) ** 2)
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def knn(points: pd.DataFrame, q: pd.DataFrame, k: int) -> pd.DataFrame:
    """Brute-force exact kNN: (qid, url, dist_m, rnk), ties by url."""
    urls = points["url"].to_numpy()
    order_url = np.argsort(urls, kind="stable")
    lat, lon = points["lat"].to_numpy()[order_url], points["lon"].to_numpy()[order_url]
    urls = urls[order_url]
    out = []
    for qid, qlat, qlon in q[["qid", "qlat", "qlon"]].itertuples(index=False):
        d = haversine_m(qlat, qlon, lat, lon)
        top = np.argsort(d, kind="stable")[:k]  # url order breaks ties
        out.append(pd.DataFrame({"qid": qid, "url": urls[top], "dist_m": d[top],
                                 "rnk": np.arange(1, len(top) + 1)}))
    return pd.concat(out, ignore_index=True)


def nearest_zone(pts: pd.DataFrame, rings: dict) -> pd.DataFrame:
    """(url, zone_id, dist_deg2): nearest polygon by squared planar
    boundary distance, 0 inside (even-odd), ties by zone_id."""
    px, py = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    zids = sorted(rings)
    best = np.full(len(px), np.inf)
    best_z = np.empty(len(px), dtype=object)
    for zid in zids:
        d2 = np.full(len(px), np.inf)
        for r in rings[zid]:
            for e in range(len(r) - 1):
                x0, y0, x1, y1 = r[e, 0], r[e, 1], r[e + 1, 0], r[e + 1, 1]
                t = np.minimum(np.maximum(
                    ((px - x0) * (x1 - x0) + (py - y0) * (y1 - y0))
                    / ((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0)), 0.0), 1.0)
                cx = x0 + t * (x1 - x0)
                cy = y0 + t * (y1 - y0)
                d2 = np.minimum(d2, (px - cx) * (px - cx) + (py - cy) * (py - cy))
        d2 = np.where(points_in_rings(px, py, rings[zid]), 0.0, d2)
        better = d2 < best  # strict: earlier (smaller) zone_id wins ties
        best = np.where(better, d2, best)
        best_z[better] = zid
    return pd.DataFrame({"url": pts["url"].to_numpy(), "zone_id": best_z,
                         "dist_deg2": best})


# ---------------------------------------------------------- curation refs

def cosine_topk(emb: pd.DataFrame, qv: pd.DataFrame, k: int) -> pd.DataFrame:
    """Exact cosine top-k (qid, vec_id, cos, rnk), ties by vec_id."""
    ids = emb["vec_id"].to_numpy()
    mat = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    qm = np.stack(qv["qvec"].to_numpy()).astype(np.float64)
    cos = (mat @ qm.T) / np.linalg.norm(qm, axis=1)[None, :] \
        / np.linalg.norm(mat, axis=1)[:, None]
    out = []
    for j, qid in enumerate(qv["qid"].to_numpy()):
        top = np.lexsort((ids, -cos[:, j]))[:k]
        out.append(pd.DataFrame({"qid": qid, "vec_id": ids[top],
                                 "cos": cos[top, j],
                                 "rnk": np.arange(1, k + 1)}))
    return pd.concat(out, ignore_index=True)


_WS = re.compile(r"[ \t\n\x0B\f\r]+")


def trigram_familiarity(docs: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, n_tri, fam_sum) in plain Python: character trigrams
    of lower-cased, whitespace-collapsed, space-trimmed text, scored by
    their corpus-wide counts (sparkspatial's definition; its DuckDB
    twin is quadratic in document length)."""
    tris = []
    for t in docs["text"]:
        n = _WS.sub(" ", t.lower()).strip(" ")
        tris.append([n[i:i + 3] for i in range(len(n) - 2)])
    model = Counter(x for ts in tris for x in ts)
    keep = [i for i, ts in enumerate(tris) if ts]
    return pd.DataFrame({
        "doc_id": docs["doc_id"].to_numpy()[keep],
        "n_tri": np.array([len(tris[i]) for i in keep], dtype=np.int64),
        "fam_sum": np.array([sum(model[x] for x in tris[i]) for i in keep],
                            dtype=np.int64)})


def text_refs(docs: pd.DataFrame, ev: pd.DataFrame, *, n_hashes: int,
              bands: int, shingle_k: int) -> dict[str, pd.DataFrame]:
    """Answers for the curation text ops: DuckDB running sparkspatial's
    SQL twins (the definitions its own oracle gate checks), and plain
    Python for trigram familiarity."""
    import duckdb

    from sparkspatial import text as T

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("corpus", docs)
        con.register("ev", ev)
        sh_k = T.shingle_hashes_duckdb_sql("text", shingle_k)
        sh3 = T.shingle_hashes_duckdb_sql("text", 3)
        aggs = ", ".join(T.minhash_sql_exprs(n_hashes, "sh"))
        per_band = n_hashes // bands
        band_eq = " OR ".join(
            "(" + " AND ".join(f"a.mh{b * per_band + j} = b.mh{b * per_band + j}"
                               for j in range(per_band)) + ")"
            for b in range(bands))
        con.execute(f"""CREATE TEMP TABLE sigs AS
            WITH hashed AS (SELECT doc_id, unnest({sh3}) AS sh FROM corpus)
            SELECT doc_id, {aggs} FROM hashed GROUP BY doc_id""")
        q = {
            "decontaminate": f"""
                WITH evsh AS (SELECT DISTINCT unnest({sh_k}) AS sh FROM ev),
                csh AS (SELECT doc_id, unnest({sh_k}) AS sh FROM corpus),
                hit AS (SELECT DISTINCT doc_id FROM csh JOIN evsh USING (sh))
                SELECT c.doc_id, c.doc_id IN (SELECT doc_id FROM hit)
                       AS contaminated
                FROM corpus c""",
            "lsh_pairs": f"""
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ({band_eq})""",
            "line_dedup": "WITH " + T.line_dedup_duckdb_sql("corpus"),
        }
        out = {name: con.execute(sql).df() for name, sql in q.items()}
        out["trigram_familiarity"] = trigram_familiarity(docs)
        return out
    finally:
        con.close()


# ------------------------------------------------------------------ cache

class RefCache:
    """Pickled references under <root>/refs-g<GEN_VERSION>-r<REF_VERSION>/,
    keyed by workload, seed and item."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, f"refs-g{gen.GEN_VERSION}-r{REF_VERSION}")
        os.makedirs(self.dir, exist_ok=True)

    def get(self, key: str, build):
        name = hashlib.sha1(key.encode()).hexdigest()[:20] + ".pkl"
        path = os.path.join(self.dir, name)
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        val = build()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(val, f)
        os.replace(tmp, path)
        return val
