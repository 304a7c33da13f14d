"""z0 reef tile vs the reference's vendored simplified-geometry golden.

Ports test/vector_tile.cpp:48-119 ("vector tile from simplified
geojson"): poly.geojson (a real 182-ring reef) is encoded into a z0
tile at extent 25600, decoded, reprojected back to lonlat and compared
against test/data/simplified_geometry.geojson — a golden written by the
reference itself. The reference compares its own output string;
cross-implementation the vertex lists legitimately differ (its default
strictly_simple=true wagyu pass removes collinear vertices and reorders
rings), so the pinned invariant here is REGION equality: both
multipolygons must cover the same ground on the quantization lattice
(even-odd rasterized IoU), plus matching quantization grid alignment."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.operators import decode as D
from mapnik_vector_tile_spark.operators import encode as E

DATA = "/root/reference/test/data"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(DATA), reason="reference test data not mounted"
)


def _merc_to_lonlat(a: np.ndarray) -> np.ndarray:
    lon = np.degrees(a[:, 0] / tilemath.EARTH_RADIUS)
    lat = np.degrees(2 * np.arctan(np.exp(a[:, 1] / tilemath.EARTH_RADIUS)) - np.pi / 2)
    return np.column_stack([lon, lat])


def _even_odd_mask(polys, gx, gy):
    """Vectorized even-odd rasterization of [[ring arrays]] over the
    (gx, gy) lattice."""
    inside = np.zeros((len(gy), len(gx)), dtype=bool)
    X = gx[None, :]
    for rings in polys:
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)
            x0, y0 = r[:-1, 0], r[:-1, 1]
            x1, y1 = r[1:, 0], r[1:, 1]
            for j, yv in enumerate(gy):
                cond = (y0 <= yv) != (y1 <= yv)
                if not cond.any():
                    continue
                xs = x0[cond] + (yv - y0[cond]) / (y1[cond] - y0[cond]) * (
                    x1[cond] - x0[cond]
                )
                crossings = (xs[None, :] > X.T[:, 0:1]).sum(axis=1)
                inside[j] ^= (crossings % 2).astype(bool)
    return inside


def test_simplified_geojson_region_golden():
    reef = json.load(open(f"{DATA}/poly.geojson"))
    polys = []
    for poly in reef["coordinates"]:
        rings = []
        for ring in poly:
            arr = np.asarray(ring, dtype=np.float64)
            mx, my = tilemath.mercator_np(arr[:, 0], arr[:, 1])
            rings.append(np.column_stack([mx, my]))
        polys.append(rings)
    pdf = pd.DataFrame({"gid": ["reef"], "_gpk": [G.gpack(("multipolygon", polys))]})
    layer, nf = E.encode_geom_layer(
        pdf, 0, 0, 0, "layer", ["gid"], extent=25600
    )
    assert nf == 1  # is_painted / one feature, like the reference asserts

    rows = D.decode_layer_rows(0, 0, 0, layer)
    assert len(rows) == 1 and rows[0][5] == 3
    kind, val = G.from_wkt(rows[0][6])
    got_polys = val if kind == "multipolygon" else [val]
    got = [[_merc_to_lonlat(np.asarray(r)) for r in p] for p in got_polys]

    exp = json.load(open(f"{DATA}/simplified_geometry.geojson"))
    assert exp["type"] == "MultiPolygon"
    ep = [[np.asarray(r, dtype=np.float64) for r in p] for p in exp["coordinates"]]

    # similar decomposition scale (the wagyu pass may split/merge a ring
    # or two, never wholesale)
    assert abs(len(got) - len(ep)) <= 2

    # quantization-grid alignment: our decoded lonlats sit on the same
    # extent-25600 px lattice as the golden's
    step = 360.0 / 25600.0
    all_got = np.vstack([r for p in got for r in p])
    frac = np.abs(all_got[:, 0] / step - np.rint(all_got[:, 0] / step))
    assert frac.max() < 1e-4  # on-lattice up to merc<->lonlat float noise

    # region equality on a lattice spanning both bboxes
    allpts = np.vstack([all_got, np.vstack([r for p in ep for r in p])])
    pad = step
    gx = np.linspace(allpts[:, 0].min() - pad, allpts[:, 0].max() + pad, 220)
    gy = np.linspace(allpts[:, 1].min() - pad, allpts[:, 1].max() + pad, 220)
    m_got = _even_odd_mask(got, gx, gy)
    m_exp = _even_odd_mask(ep, gx, gy)
    inter = (m_got & m_exp).sum()
    union = (m_got | m_exp).sum()
    assert union > 0
    iou = inter / union
    assert iou >= 0.95, iou
