"""Generator determinism: same seed -> byte-identical inputs and
references, another seed or stream index -> different ones."""

import io

import numpy as np
import pandas as pd

from spbench import gen, refs


def _bytes(pdf: pd.DataFrame) -> bytes:
    buf = io.BytesIO()
    pdf.to_parquet(buf, index=False)
    return buf.getvalue()


def test_same_seed_same_bytes():
    assert _bytes(gen.pages(7, 0)[0]) == _bytes(gen.pages(7, 0)[0])
    assert _bytes(gen.zones(7)) == _bytes(gen.zones(7))
    assert _bytes(gen.docs(7, 1)) == _bytes(gen.docs(7, 1))
    assert _bytes(gen.query_batch(7, 3)) == _bytes(gen.query_batch(7, 3))
    assert _bytes(gen.embeddings(7)) == _bytes(gen.embeddings(7))


def test_other_seed_other_bytes():
    assert _bytes(gen.pages(7, 0)[0]) != _bytes(gen.pages(8, 0)[0])
    assert _bytes(gen.zones(7)) != _bytes(gen.zones(8))
    assert _bytes(gen.docs(7, 1)) != _bytes(gen.docs(8, 1))
    assert _bytes(gen.knn_points(7)) != _bytes(gen.knn_points(8))


def test_streams_rotate_without_repeating_the_previous_item():
    a, b = gen.pages(7, 0)[0], gen.pages(7, 1)[0]
    assert not set(a["url"]) & set(b["url"])
    q0, q1 = gen.query_batch(7, 0), gen.query_batch(7, 1)
    assert not set(q0["qid"]) & set(q1["qid"])
    assert not np.isin(q0["qlat"], q1["qlat"]).any()
    d0, d1 = gen.docs(7, 0), gen.docs(7, 1)
    assert not set(d0["doc_id"]) & set(d1["doc_id"])
    v0, v1 = gen.query_vectors(7, 0), gen.query_vectors(7, 1)
    assert not set(v0["qid"]) & set(v1["qid"])


def test_references_are_deterministic():
    zp = gen.zones(3)
    rings = gen.zone_rings(zp)
    truth = gen.pages(3, 2)[1]
    d1 = refs.digest(refs.spatial_join(truth, rings, zp))
    d2 = refs.digest(refs.spatial_join(gen.pages(3, 2)[1], gen.zone_rings(gen.zones(3)),
                                       gen.zones(3)))
    assert d1 == d2
    other = gen.pages(4, 2)[1]
    assert refs.digest(refs.spatial_join(other, gen.zone_rings(gen.zones(4)),
                                         gen.zones(4))) != d1


def test_hot_centers_hold_about_a_third_of_points():
    _, truth = gen.pages(5, 0)
    x0, y0, x1, y1 = gen.HOT_BOX
    hot = truth["lon"].between(x0, x1) & truth["lat"].between(y0, y1)
    assert 0.2 < hot.mean() < 0.4
