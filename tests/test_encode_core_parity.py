"""One encode core: every tile lane (cold batches, the salted hot lane,
its prechunk form, the single-tile geometry encoder) writes the same
dictionary, tags and frames.

The reference drops null properties (src/vector_tile_layer.ipp:90-91)
and deduplicates Layer.values on the typed value
(src/vector_tile_layer.hpp:36-69), whatever the column; a tile's bytes
depend on its own rows only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.operators import encode as E

POINT_SCHEMA = "rid string, s string, n long, lon double, lat double"


def _point_rows(n_hot: int = 24, n_spread: int = 12) -> list[tuple]:
    """Clustered + spread points with a nullable string and a nullable
    long property (every third / fourth row null)."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(n_hot + n_spread):
        if i < n_hot:
            lon, lat = 10.0 + rng.uniform(0, 5), 45.0 + rng.uniform(0, 5)
        else:
            lon, lat = rng.uniform(-170, 170), rng.uniform(-80, 80)
        s = None if i % 3 == 0 else f"s{i % 5}"
        n = None if i % 4 == 0 else 10 + i % 3
        rows.append((f"r{i:03d}", s, n, float(lon), float(lat)))
    return rows


def _decoded(tiles: pd.DataFrame) -> dict[str, dict]:
    """rid -> typed properties of every feature of every stored tile."""
    out: dict[str, dict] = {}
    for raw in tiles["tile"]:
        raw = bytes(raw)
        if not raw:
            continue
        data = Z.decompress(raw) if Z.is_zlib_compressed(raw) else raw
        for layer in pbf.decode_tile(data):
            meta = pbf.decode_layer(layer)
            for msg in meta["features"]:
                tags = pbf.decode_feature(msg)["tags"]
                props = {
                    meta["keys"][k]: meta["values"][v]
                    for k, v in zip(tags[::2], tags[1::2])
                }
                out[props["rid"]] = props
    return out


def _build(spark, rows, **kw):
    from mapnik_vector_tile_spark.operators import assign as A

    df = spark.createDataFrame(rows, POINT_SCHEMA)
    return E.build_point_tiles(
        A.assign_tiles(df, 4), ["rid", "s", "n"], order_col="rid", **kw
    ).toPandas()


def test_hot_lanes_drop_null_properties(spark):
    """Cold, salted-monolithic and prechunk lanes decode to the same
    typed properties: a null is a dropped tag, never an empty or NaN
    Value."""
    rows = _point_rows()
    cold = _decoded(_build(spark, rows, hot_threshold=10_000))
    hot = _decoded(_build(spark, rows, hot_threshold=3))
    pre = _decoded(_build(spark, rows, hot_threshold=3, prechunk_hot=True))
    assert len(cold) == len(rows)
    assert hot == cold
    assert pre == cold
    assert "s" not in cold["r000"] and "n" not in cold["r000"]


def test_point_nullable_long_stays_int(spark):
    """A nullable long property decodes as an int Value (10, not 10.0)."""
    got = _decoded(_build(spark, _point_rows(), hot_threshold=10_000))
    ns = [p["n"] for p in got.values() if "n" in p]
    assert ns and {pbf.value_type_tag(v) for v in ns} == {"int"}
    assert set(ns) == {10, 11, 12}


def test_tile_bytes_independent_of_batch_neighbours(spark):
    """A tile whose two string columns share a value has the same
    uncompressed bytes whether or not another tile of its Arrow batch
    holds a null."""
    from mapnik_vector_tile_spark.operators import assign as A

    schema = "rid string, a string, b string, lon double, lat double"
    t1 = [("r0", "same", "same", 10.0, 45.0), ("r1", "x", "same", 10.1, 45.1)]
    other = ("r2", "p", "q", -120.0, -30.0)
    trailer = ("r3", "t", "u", 150.0, 10.0)  # sorts last: carried alone
    npart = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")  # one task, one batch
    try:
        out = []
        for neighbour in (other, (*other[:2], None, *other[3:])):
            df = spark.createDataFrame([*t1, neighbour, trailer], schema)
            tiles = E.build_point_tiles(
                A.assign_tiles(df, 4), ["rid", "a", "b"], order_col="rid",
                compress_tiles=False, hot_threshold=10_000,
            ).toPandas()
            x, y = tilemath.lonlat_to_tile_np(np.array([10.0]), np.array([45.0]), 4)
            row = tiles[(tiles["x"] == int(x[0])) & (tiles["y"] == int(y[0]))]
            out.append(bytes(row["tile"].iloc[0]))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", npart)
    assert out[0] == out[1]
    meta = pbf.decode_layer(pbf.decode_tile(out[0])[0])
    assert meta["values"].count("same") == 1  # one entry for both columns


# ---------------------------------------------------------------------------
# Spark-free: the core against an independent per-feature reference
# ---------------------------------------------------------------------------

def _reference_layer(pdf, tile, prop_cols, ids, rasters, extent, buffer_px):
    """Reference semantics, one feature at a time: first-seen typed
    dictionary over non-null cells of the tile's rows, the scalar
    geometry pipeline, a collection's members as separate features
    (raster on the first), raster-only rows as UNKNOWN features."""
    z, x, y = tile
    minx, miny, maxx, maxy = tilemath.tile_mercator_bbox_np(x, y, z)
    vt = G.ViewTransform(float(minx), float(miny), float(maxx), float(maxy), extent, extent)
    clip_box = tilemath.buffered_tile_px_box(extent, buffer_px)
    index: dict = {}
    values: list = []
    feats = []
    for i in range(len(pdf)):
        tags = []
        for j, col in enumerate(prop_cols):
            v = pdf[col].iloc[i]
            if v is None or (isinstance(v, float) and v != v):
                continue
            key = (pbf.value_type_tag(v), v)
            if key not in index:
                index[key] = len(values)
                values.append(v)
            tags += [j, index[key]]
        geoms = E._scalar_geom_feature(
            G.gunpack(pdf["_gpk"].iloc[i]), vt, clip_box, 0.0, 0.1, {}
        )
        raster = rasters[i] if rasters is not None else None
        if not geoms and raster is not None:
            geoms = [(0, [])]
        fid = int(ids[i]) if ids is not None else 0
        for k, (gtype, cmds) in enumerate(geoms):
            feats.append((fid, tags, gtype, [int(c) for c in cmds],
                          raster if k == 0 else None))
    return values, feats


def _core_layer(layer: bytes):
    meta = pbf.decode_layer(layer)
    feats = []
    for msg in meta["features"]:
        f = pbf.decode_feature(msg)
        feats.append((f["id"], f["tags"], f["type"], f["geometry"], f["raster"]))
    return meta["keys"], meta["values"], feats


def _geom_batch():
    """Two tiles of mixed features: points, a crossing line, a polygon,
    a self-intersecting polygon and a geometry collection (both eject
    to the scalar lane), a fully clipped raster row, nulls and values
    repeated across columns."""
    z = 3
    bowtie = np.array([[0, 0], [100, 100], [100, 0], [0, 80], [0, 0]], dtype=float)
    tiles, rows = [(z, 4, 2), (z, 4, 3)], []
    for t, (tz, tx, ty) in enumerate(tiles):
        minx, miny, maxx, maxy = (float(v) for v in tilemath.tile_mercator_bbox_np(tx, ty, tz))
        w = (maxx - minx) / 4096.0

        def px(a):  # tile px -> mercator
            a = np.asarray(a, dtype=float)
            return np.stack([minx + a[..., 0] * w, maxy - a[..., 1] * w], axis=-1)

        geoms = [
            ("point", px([100, 200])),
            ("linestring", px([[-900, 10], [5000, 4000]])),
            ("polygon", [px([[10, 10], [900, 10], [900, 900], [10, 900], [10, 10]])]),
            ("polygon", [px(bowtie * 9 + 500)]),
            ("geometrycollection", [("point", px([40, 40])),
                                    ("linestring", px([[50, 50], [300, 60]]))]),
            ("linestring", px([[-9000, -9000], [-8000, -8500]])),  # clipped: raster-only
        ]
        for i, g in enumerate(geoms):
            a = None if (i + t) % 3 == 0 else ("dup" if i % 2 else f"a{i}")
            b = None if i == 2 else ("dup" if i < 4 else 7 + t)
            rows.append((tz, tx, ty, G.gpack(g), a, b, 100 * t + i,
                         b"R%d" % i if i in (1, 4, 5) else None))
    pdf = pd.DataFrame(rows, columns=["z", "x", "y", "_gpk", "a", "b", "fid", "ras"])
    return tiles, pdf.astype({"a": object, "b": object})


def test_core_matches_reference_per_feature():
    tiles, pdf = _geom_batch()
    prop_cols, extent, buffer_px = ["a", "b"], 4096, 8
    gid, starts = E._segment(pdf)
    assert len(starts) == len(tiles)
    heads = tuple(pdf[k].to_numpy()[starts] for k in E.TILE_KEYS)
    layers, unresolved = E._encode_geom_groups(
        pdf, gid, heads, "L", prop_cols, extent=extent, buffer_px=buffer_px,
        ids=pdf["fid"].to_numpy(), rasters=list(pdf["ras"]),
    )
    assert unresolved.tolist() == [0, 0]
    for g, tile in enumerate(tiles):
        part = pdf[gid == g].reset_index(drop=True)
        values, feats = _reference_layer(
            part, tile, prop_cols, part["fid"].to_numpy(), list(part["ras"]),
            extent, buffer_px,
        )
        keys, got_values, got_feats = _core_layer(layers[g][0])
        assert keys == prop_cols
        assert got_values == values
        assert [type(v) for v in got_values] == [type(v) for v in values]
        assert got_values.count("dup") == 1  # one entry across columns
        assert got_feats == feats
        assert layers[g][1] == len(feats)
        assert any(f[2] == 0 and f[4] == b"R5" for f in got_feats)  # raster-only
        # the single-tile encoder writes the batch's bytes for that tile
        assert E.encode_geom_layer(
            part, *tile, "L", prop_cols, extent=extent, buffer_px=buffer_px,
            id_col="fid", raster_col="ras",
        ) == layers[g]


@pytest.mark.parametrize("with_ids", [False, True])
def test_point_frames_match_dense_framer(with_ids):
    """Points framed by the ragged framer are byte-identical to
    pbf.encode_point_features_packed when no property is null."""
    rng = np.random.default_rng(5)
    n = 500
    pdf = pd.DataFrame({
        "a": [f"v{i % 17}" for i in range(n)],
        "b": rng.integers(-3, 40, n),
        "c": rng.random(n).round(3),
    })
    gid = np.zeros(n, dtype=np.int64)
    tags, values, off = E._value_dict(pdf, ["a", "b", "c"], gid, 1)
    assert (tags >= 0).all()
    px = rng.integers(-64, 4160, n)
    py = rng.integers(-64, 4160, n)
    ids = np.arange(n, dtype=np.int64) * 3 if with_ids else None
    blob, frame_off, rows = E._frame_features(
        E._point_features(np.arange(n), px, py), tags, ids=ids
    )
    from mapnik_vector_tile_spark.functions import commands as Cmd

    zz = np.column_stack([Cmd.zigzag32(px), Cmd.zigzag32(py)])
    assert blob == pbf.encode_point_features_packed(tags, zz, ids)
    assert rows.tolist() == list(range(n)) and frame_off[-1] == len(blob)
