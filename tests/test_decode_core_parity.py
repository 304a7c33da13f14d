"""One decode core, four projections: the WKT rows (decode_layer_rows),
the packed dicts (iter_layer_packed) and the columnar point rows
(columnar_kernel) are views of the same per-layer decode, so on any
layer they must agree on feature ids, properties and geometry. The
corpus covers v1 and v2 layers, points, lines and polygons with holes,
a bbox query, and features the batch decoder declines (>= 512
commands; coordinates beyond 2^25 px, with >= 64 and with fewer
commands) that the per-feature ladder re-decodes. No Spark session
needed."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.operators import decode as D

Z, X, Y = 13, 4100, 2700
KEYS = ["name", "rank", "area", "open"]
VALUES = ["a", "b", 7, 2.5, True, False]


def _ring(x0, y0, w, h, ccw=True):
    pts = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]]
    if not ccw:
        pts = pts[::-1]
    return np.asarray(pts + pts[:1], dtype=np.int64)


def _geometries(rng):
    """(geom_type, command stream) per feature."""
    out = []
    for g in [
        ("point", np.array([1234, 3001])),
        ("multipoint", rng.integers(0, 4096, size=(5, 2))),
        ("linestring", rng.integers(0, 4096, size=(6, 2))),
        ("multilinestring", [rng.integers(0, 4096, size=(3, 2)) for _ in range(3)]),
        ("polygon", [_ring(100, 100, 800, 800), _ring(300, 300, 200, 200, ccw=False)]),
        ("multipolygon", [
            [_ring(1000, 1000, 900, 600), _ring(1200, 1100, 100, 100, ccw=False)],
            [_ring(3000, 3000, 500, 500)],
        ]),
        # >= 512 commands: the batch decoder declines, the vectorized
        # per-feature decoder takes it
        ("linestring", np.cumsum(rng.integers(1, 9, size=(300, 2)), axis=0)),
    ]:
        gt, cmds = Cmd.encode_geometry(g, [0, 0])
        out.append((gt, list(cmds)))
    # a coordinate jump beyond 2^25 px: the batch and vectorized decoders
    # both decline, the scalar walk decodes it — one stream >= 64
    # commands, one shorter
    for n in (40, 4):
        cmds = [9, Cmd.zigzag32(10), Cmd.zigzag32(10)]
        for i in range(n):
            dx = 1 << 26 if i == n // 2 else 5
            cmds += [(1 << 3) | Cmd.LINE_TO, Cmd.zigzag32(dx), Cmd.zigzag32(3)]
        out.append((Cmd.LINESTRING, cmds))
    return out


def _layer(name, version, rng):
    feats = []
    for fid, (gt, cmds) in enumerate(_geometries(rng), start=1):
        tags = [0, fid % 2, 1, 2 + fid % 4, 2, 2 + (fid + 1) % 4, 3, 4 + fid % 2]
        feats.append(pbf.encode_feature(fid, tags, gt, cmds))
    feats.append(pbf.encode_feature(99, [0, 0], Cmd.POINT, [], raster=b"\x89PNG"))
    vals = [pbf.encode_value(v) for v in VALUES]
    return pbf.encode_layer(name, feats, KEYS, vals, version=version)


def _tuple_of(pk):
    """packed dict -> the geom tuple the WKT projection writes."""
    xy = np.column_stack([pk["xs"], pk["ys"]])
    off = pk["offsets"]
    parts = [xy[off[i] : off[i + 1]] for i in range(len(off) - 1)]
    if pk["kind"] == "multipoint":
        return ("point", parts[0][0]) if len(parts[0]) == 1 else ("multipoint", parts[0])
    if pk["kind"] == "multilinestring":
        return ("linestring", parts[0]) if len(parts) == 1 else ("multilinestring", parts)
    polys = []
    for ring, ext in zip(parts, pk["exterior"]):
        if ext:
            polys.append([ring])
        else:
            polys[-1].append(ring)
    return ("polygon", polys[0]) if len(polys) == 1 else ("multipolygon", polys)


@pytest.mark.parametrize("version", [1, 2])
@pytest.mark.parametrize("use_bbox", [False, True])
def test_wkt_and_packed_projections_agree(version, use_bbox):
    layer = _layer("mixed", version, np.random.default_rng(version))
    bounds = tilemath.tile_mercator_bbox_np(X, Y, Z)
    bbox = None
    if use_bbox:  # the tile's top-left quadrant
        minx, _miny, maxx, maxy = (float(v) for v in bounds)
        half = (maxx - minx) / 2
        bbox = (minx, maxy - half, minx + half, maxy)
    rows = D.decode_layer_rows(Z, X, Y, layer, bbox=bbox)
    packed = D.iter_layer_packed(layer, bounds, bbox=bbox)
    assert [r[4] for r in rows] == list(range(1, 10)) + [99]
    by_id = {r[4]: r for r in rows}
    # the packed projection drops exactly the features without geometry
    # or raster, and keeps the WKT rows' ids, types, props and raster
    kept = [r[4] for r in rows if r[6] is not None or r[8] is not None]
    assert [p[1] for p in packed] == kept
    n_geom = 0
    for name, fid, gt, pk, props, raster in packed:
        r = by_id[fid]
        assert (name, gt, props, raster) == (r[3], r[5], r[7], r[8])
        if pk is None:
            assert r[6] is None
            continue
        n_geom += 1
        assert G.to_wkt(_tuple_of(pk)) == r[6]
    if not use_bbox:
        assert n_geom == 9
    else:
        assert 0 < n_geom < 9


@pytest.mark.parametrize("version", [1, 2])
def test_columnar_projection_agrees(version):
    layer = _layer("mixed", version, np.random.default_rng(version))
    bounds = tilemath.tile_mercator_bbox_np(X, Y, Z)
    rows = D.decode_layer_rows(Z, X, Y, layer)
    packed = {p[1]: p[3] for p in D.iter_layer_packed(layer, bounds)}
    pdf = pd.DataFrame({"z": [Z], "x": [X], "y": [Y], "tile": [pbf.encode_tile([layer])]})
    col = pd.concat(D.columnar_kernel(KEYS)(iter([pdf])), ignore_index=True)
    assert len(col) == len(rows)
    for (_, c), r in zip(col.iterrows(), rows):
        assert (c["z"], c["x"], c["y"], c["layer"]) == (Z, X, Y, r[3])
        assert [c[k] for k in KEYS] == [r[7].get(k) for k in KEYS]
        pk = packed.get(r[4])
        if r[5] == Cmd.POINT and pk is not None and len(pk["xs"]) == 1:
            # exact: the decoded point itself, no text round trip
            assert (c["mx"], c["my"]) == (pk["xs"][0], pk["ys"][0])
        else:
            assert np.isnan(c["mx"]) and np.isnan(c["my"])


def test_point_uniform_and_fallback_lanes_bit_identical(monkeypatch):
    """The same point through the columnar kernel's uniform lane (this
    engine's packed point framing) and through its fallback lane (the
    generic builder's framing) decodes to the same doubles, bit for
    bit."""
    keys = ["image_id", "caption", "fmt"]
    px, py = 1234, 3001
    vals = [pbf.encode_value(v) for v in ("im-1", "cap-1", "png")]
    zz = np.array([[Cmd.zigzag32(px), Cmd.zigzag32(py)]], dtype=np.uint32)
    tags = np.array([[0, 0, 1, 1, 2, 2]], dtype=np.int64)
    uniform = pbf.encode_layer_packed(
        "uniform", pbf.encode_point_features_packed(tags, zz), keys, vals
    )
    generic = pbf.encode_layer(
        "generic",
        [pbf.encode_feature(1, [0, 0, 1, 1, 2, 2], Cmd.POINT,
                            [9, Cmd.zigzag32(px), Cmd.zigzag32(py)])],
        keys, vals,
    )
    lanes = []
    real = D._point_rows

    def spy(*args):
        out = real(*args)
        lanes.extend(r[3] for r in out)
        return out

    monkeypatch.setattr(D, "_point_rows", spy)
    pdf = pd.DataFrame({
        "z": [Z, Z], "x": [X, X], "y": [Y, Y],
        "tile": [pbf.encode_tile([uniform]), pbf.encode_tile([generic])],
    })
    col = pd.concat(D.columnar_kernel(keys)(iter([pdf]))).set_index("layer")
    assert lanes == ["generic"]  # only the generic layer took the fallback
    u, g = col.loc["uniform"], col.loc["generic"]
    assert u["mx"] == g["mx"] and u["my"] == g["my"]
    assert abs(u["mx"] - 21041.6806926281) < 1e-9


def test_large_features_stay_flat_in_packed_projection(monkeypatch):
    """Features the batch decoder declines for size (>= 512 commands)
    reach the packed projection in the vectorized decoder's flat form:
    no per-part geom tuple is built and re-packed on the way."""
    parts = [np.array([[i % 4000, i // 40], [i % 4000 + 3, i // 40 + 2]]) for i in range(600)]
    rings = [[_ring(60 * (i % 60), 60 * (i // 60), 50, 50),
              _ring(60 * (i % 60) + 10, 60 * (i // 60) + 10, 20, 20, ccw=False)]
             for i in range(60)]
    feats = []
    for fid, g in enumerate([("multilinestring", parts), ("multipolygon", rings)], start=1):
        gt, cmds = Cmd.encode_geometry(g, [0, 0])
        assert len(cmds) >= 512
        feats.append(pbf.encode_feature(fid, [], gt, list(cmds)))
    layer = pbf.encode_layer("big", feats, [], [], version=2)
    bounds = tilemath.tile_mercator_bbox_np(X, Y, Z)
    rows = D.decode_layer_rows(Z, X, Y, layer)

    def no_parts(geom):
        raise AssertionError("large feature re-packed from parts")

    monkeypatch.setattr(D, "_pack_from_parts", no_parts)
    packed = D.iter_layer_packed(layer, bounds)
    assert [len(p[3]["offsets"]) - 1 for p in packed] == [600, 120]
    for p, r in zip(packed, rows):
        assert G.to_wkt(_tuple_of(p[3])) == r[6]
