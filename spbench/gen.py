"""Seeded input generator for the benchmark workloads.

Never imports sparkspatial: the inputs are a function of (seed,
GEN_VERSION) only, so a change to the program cannot change what it
is measured on. The same seed gives byte-identical frames; a different
seed gives different ones. Every stream the workloads rotate through
(geo_batch page shards and query batches, curation document shards
and query vectors) is indexed, and consecutive indices never
share an input row, so no pass or request repeats the one before it.

Only numpy / pandas / pyarrow are used; all randomness comes from
``np.random.default_rng(SeedSequence([seed, stream, index]))`` so a
stream item does not depend on how many items were drawn before it.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

GEN_VERSION = 2

# stream ids (SeedSequence spawn keys)
_S_ZONES, _S_DOMAINS, _S_PAGES, _S_QUERIES, _S_KNN, _S_DOCS, _S_EVAL, \
    _S_EMB, _S_QVEC = range(9)

# -- geo ---------------------------------------------------------------
# ~30% of domains crowd into 25 hot centers (a 5x5 lattice inside the
# hot zone box), the rest spread over the band, like the canonical
# geocode: the hot-cell skew the salted shuffle join is judged on.
HOT_FRAC = 0.3
HOT_BOX = (-74.8, 39.6, -73.0, 41.4)
N_DOMAINS = 4000
N_ZONES = 16
PAGES_PER_SHARD = 24_000
KNN_POINTS = 40_000
QUERIES_PER_REQUEST = 16
LANGS = np.array(["en", "fr", "de", "es", "zh"])

# -- curation ----------------------------------------------------------
DOCS_PER_SHARD = 800
LINES_PER_DOC = (6, 14)
WORDS_PER_LINE = (8, 24)
VOCAB = 3000
BOILERPLATE = 40          # shared lines that line_dedup collapses
EVAL_DOCS = 200
N_VECTORS = 10_000
VEC_DIM = 64
QVECS_PER_PASS = 32


def _rng(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream, index]))


def _polygon_wkb(rings: list[np.ndarray]) -> bytes:
    """Little-endian OGC WKB Polygon from closed (n, 2) rings."""
    out = bytearray(b"\x01" + struct.pack("<II", 3, len(rings)))
    for r in rings:
        r = np.ascontiguousarray(r, dtype="<f8")
        out += struct.pack("<I", len(r)) + r.tobytes()
    return bytes(out)


def _box(minx, miny, maxx, maxy) -> np.ndarray:
    return np.array([[minx, miny], [maxx, miny], [maxx, maxy],
                     [minx, maxy], [minx, miny]], dtype=np.float64)


def zones(seed: int) -> pd.DataFrame:
    """Zone polygons: rectangles across the band, one box over the hot
    centers, a polygon with a hole and an overlapping pair inside it.
    Vertices are random doubles, so no generated point sits on an edge.
    Columns follow sparkspatial.zones.ZONE_SCHEMA."""
    rng = _rng(seed, _S_ZONES)
    rows = []
    for i in range(N_ZONES):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-52, 52)
        w, h = rng.uniform(1.0, 6.0), rng.uniform(1.0, 5.0)
        rows.append((f"z{i:03d}", [_box(cx - w, cy - h, cx + w, cy + h)]))
    j = rng.uniform(-0.05, 0.05, size=8)
    hx0, hy0, hx1, hy1 = HOT_BOX
    rows.append(("zhot", [_box(hx0 + j[0], hy0 + j[1], hx1 + j[2], hy1 + j[3])]))
    shell = _box(-74.6 + j[4], 39.8 + j[5], -73.2 + j[6], 41.2 + j[7])
    hole = _box(-74.1 + j[0], 40.2 + j[1], -73.7 + j[2], 40.7 + j[3])
    rows.append(("zhole", [shell, hole[::-1].copy()]))
    rows.append(("zov_a", [_box(-74.5 + j[5], 40.0 + j[6], -73.9 + j[7], 40.6 + j[0])]))
    rows.append(("zov_b", [_box(-74.2 + j[1], 40.3 + j[2], -73.6 + j[3], 40.9 + j[4])]))
    out = []
    for zid, rings in rows:
        shell_xy = rings[0]
        out.append({"zone_id": zid, "the_geom_wkb": _polygon_wkb(rings),
                    "minx": float(shell_xy[:, 0].min()),
                    "miny": float(shell_xy[:, 1].min()),
                    "maxx": float(shell_xy[:, 0].max()),
                    "maxy": float(shell_xy[:, 1].max())})
    return pd.DataFrame(out)


def zone_rings(zdf: pd.DataFrame) -> dict[str, list[np.ndarray]]:
    """Decode the generator's own WKB back to rings (for references)."""
    out = {}
    for zid, wkb in zip(zdf["zone_id"], zdf["the_geom_wkb"]):
        buf = bytes(wkb)
        (nr,) = struct.unpack_from("<I", buf, 5)
        off, rings = 9, []
        for _ in range(nr):
            (n,) = struct.unpack_from("<I", buf, off)
            off += 4
            rings.append(np.frombuffer(buf, "<f8", 2 * n, off).reshape(n, 2))
            off += 16 * n
        out[zid] = rings
    return out


def _domain_centers(seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = _rng(seed, _S_DOMAINS)
    hot = rng.random(N_DOMAINS) < HOT_FRAC
    lat = rng.uniform(-55, 55, N_DOMAINS)
    lon = rng.uniform(-175, 175, N_DOMAINS)
    k = rng.integers(0, 25, N_DOMAINS)
    lat = np.where(hot, 40.1 + (k % 5) * 0.2, lat)
    lon = np.where(hot, -74.3 + (k // 5) * 0.2, lon)
    return lat, lon


def _points_near_centers(rng, n: int, seed: int):
    clat, clon = _domain_centers(seed)
    dom = rng.integers(0, N_DOMAINS, n)
    lat = clat[dom] + rng.uniform(-0.25, 0.25, n)
    lon = clon[dom] + rng.uniform(-0.25, 0.25, n)
    return dom, lat, lon


def pages(seed: int, shard: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Page shard (url, html, text, lang) and its marker truth
    (url, lat, lon). Pages carry 0-3 geo markers around their domain's
    place; html embeds them as sparkspatial's extract format expects."""
    rng = _rng(seed, _S_PAGES, shard)
    n = PAGES_PER_SHARD
    dom = rng.integers(0, N_DOMAINS, n)
    n_mark = rng.choice(4, size=n, p=[0.1, 0.5, 0.25, 0.15])
    clat, clon = _domain_centers(seed)
    owner = np.repeat(np.arange(n), n_mark)
    m = len(owner)
    mlat = clat[dom[owner]] + rng.uniform(-0.25, 0.25, m)
    mlon = clon[dom[owner]] + rng.uniform(-0.25, 0.25, m)
    urls = np.array([f"https://d{d}.example/{seed}/{shard}/{i}"
                     for i, d in enumerate(dom)], dtype=object)
    lang = LANGS[rng.integers(0, len(LANGS), n)]
    words = rng.integers(0, 1000, (n, 6))
    texts = [" ".join(f"w{w}" for w in row) for row in words]
    spans = [""] * n
    starts = np.concatenate([[0], np.cumsum(n_mark)])
    for i in range(n):
        a, b = starts[i], starts[i + 1]
        spans[i] = "".join(
            f'<span class="geo" data-lat="{mlat[k]!r}" data-lon="{mlon[k]!r}"></span>'
            for k in range(a, b))
    html = [f"<html><head>{s}</head><body>{t}</body></html>".encode()
            for s, t in zip(spans, texts)]
    pdf = pd.DataFrame({"url": urls, "html": html, "text": texts,
                        "lang": lang.astype(object)})
    truth = pd.DataFrame({"url": urls[owner], "lat": mlat, "lon": mlon})
    return pdf, truth


def knn_points(seed: int) -> pd.DataFrame:
    """The kNN point corpus (url, lat, lon): same skewed place model,
    with co-located duplicates (one page per domain place shares its
    exact coordinate) so ties by url are exercised."""
    rng = _rng(seed, _S_KNN)
    dom, lat, lon = _points_near_centers(rng, KNN_POINTS, seed)
    dup = rng.random(KNN_POINTS) < 0.1
    clat, clon = _domain_centers(seed)
    lat = np.where(dup, clat[dom], lat)
    lon = np.where(dup, clon[dom], lon)
    urls = np.array([f"https://d{d}.example/p{seed}/{i}"
                     for i, d in enumerate(dom)], dtype=object)
    return pd.DataFrame({"url": urls, "lat": lat, "lon": lon})


def query_batch(seed: int, request: int) -> pd.DataFrame:
    """One geo_batch query batch: (qid, qlat, qlon) query points; also
    usable as points (url=qid, lat, lon) for the zone calls."""
    rng = _rng(seed, _S_QUERIES, request)
    _, lat, lon = _points_near_centers(rng, QUERIES_PER_REQUEST, seed)
    qid = np.array([f"q{seed}-{request}-{i}"
                    for i in range(QUERIES_PER_REQUEST)], dtype=object)
    return pd.DataFrame({"qid": qid, "qlat": lat, "qlon": lon})


def _vocab(seed: int) -> np.ndarray:
    rng = _rng(seed, _S_DOCS, 1 << 20)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 10, VOCAB)
    return np.array(["".join(rng.choice(letters, k)) for k in lens],
                    dtype=object)


def _line(rng, vocab, zipf_cdf) -> str:
    n = int(rng.integers(*WORDS_PER_LINE))
    idx = np.minimum(np.searchsorted(zipf_cdf, rng.random(n)), VOCAB - 1)
    return " ".join(vocab[idx])


def _zipf(n: int) -> np.ndarray:
    """Cumulative Zipf(1) word distribution."""
    p = 1.0 / np.arange(1, n + 1)
    return np.cumsum(p / p.sum())


def _boilerplate(seed: int) -> list[str]:
    rng = _rng(seed, _S_DOCS, (1 << 20) + 1)
    vocab, p = _vocab(seed), _zipf(VOCAB)
    return [_line(rng, vocab, p) for _ in range(BOILERPLATE)]


def eval_docs(seed: int) -> pd.DataFrame:
    """Evaluation set (doc_id, text) for decontamination."""
    rng = _rng(seed, _S_EVAL)
    vocab, p = _vocab(seed), _zipf(VOCAB)
    texts = ["\n".join(_line(rng, vocab, p) for _ in range(3))
             for _ in range(EVAL_DOCS)]
    return pd.DataFrame({"doc_id": np.arange(EVAL_DOCS, dtype=np.int64),
                         "text": texts})


def docs(seed: int, shard: int) -> pd.DataFrame:
    """Long-document shard (doc_id, text): newline-separated lines,
    ~1 in 3 lines boilerplate shared corpus-wide, ~1 in 20 documents
    quoting an eval document (contaminated), ~1 in 25 an exact copy of
    an earlier document of the shard (an LSH near-dup pair)."""
    rng = _rng(seed, _S_DOCS, shard)
    vocab, p = _vocab(seed), _zipf(VOCAB)
    boiler = _boilerplate(seed)
    ev = eval_docs(seed)["text"].to_numpy()
    n = DOCS_PER_SHARD
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        lines = []
        for _ in range(int(rng.integers(*LINES_PER_DOC))):
            if rng.random() < 0.33:
                lines.append(boiler[int(rng.integers(0, BOILERPLATE))])
            else:
                lines.append(_line(rng, vocab, p))
        if rng.random() < 0.05:
            lines.insert(int(rng.integers(0, len(lines))),
                         ev[int(rng.integers(0, EVAL_DOCS))].split("\n")[0])
        texts.append("\n".join(lines))
    ids = (np.int64(shard) * 1_000_000 + np.arange(n, dtype=np.int64))
    return pd.DataFrame({"doc_id": ids, "text": texts})


def embeddings(seed: int) -> pd.DataFrame:
    """Embedding table (vec_id, embedding float32[VEC_DIM]), clustered
    so top-k neighbours are meaningful."""
    rng = _rng(seed, _S_EMB)
    cent = rng.standard_normal((64, VEC_DIM))
    lab = rng.integers(0, 64, N_VECTORS)
    mat = (cent[lab] + 0.5 * rng.standard_normal((N_VECTORS, VEC_DIM))
           ).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(N_VECTORS, dtype=np.int64),
                         "embedding": list(mat)})


def query_vectors(seed: int, batch: int) -> pd.DataFrame:
    """One pass's cosine query batch (qid, qvec float32[VEC_DIM]);
    qids never collide with corpus vec_ids."""
    rng = _rng(seed, _S_QVEC, batch)
    mat = rng.standard_normal((QVECS_PER_PASS, VEC_DIM)).astype(np.float32)
    qid = (np.int64(N_VECTORS) * (batch + 1)
           + np.arange(QVECS_PER_PASS, dtype=np.int64))
    return pd.DataFrame({"qid": qid, "qvec": list(mat)})
