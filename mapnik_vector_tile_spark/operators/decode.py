"""Tile decode — mapInPandas inverse of operators.encode (S2/S3, K6/K7).

The reference decodes through one pull model: tile_datasource_pbf hands
each layer to tile_featureset_pbf, which walks its features
(src/vector_tile_datasource_pbf.ipp:35-194,
src/vector_tile_featureset_pbf.ipp:113-325). Here that is one core:

- the tile walk `_tile_layers`: stored tile -> (layer index, layer
  bytes, tile mercator bounds);
- the layer state `_LayerBatch`: feature fields parsed as one batch and
  every geometry resolved through one ladder, `_LayerBatch.geometry`;

and four projections of it:

- WKT rows (`decode_layer_rows` / `decode_tile_rows` / `decode_tiles`),
  the compat/interop scan;
- packed ragged dicts (`iter_layer_packed` / `decode_tiles_packed`);
- gpack + envelope (`decode_tiles_gpack`), the re-encode pipelines' scan;
- columnar point rows (`decode_tiles_columnar`). Its uniform lane decodes
  this engine's own point framing for a whole Arrow batch in one
  vectorized pass; every layer it cannot take is projected from the core.

The three row scans share one per-batch framing, `_scan`. The hot-tile
pre-stage `explode_hot_tiles` splits monolithic tiles for all of them.

Decode applies tile_x/tile_y/scale like the reference:
scale = extent / tile_mercator_size(z); decoded coord =
tile_origin + px / scale (datasource_pbf.ipp:150-170).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf

DECODED_SCHEMA = (
    "z int, x long, y long, layer string, feature_id long, geom_type int, "
    "geom_wkt string, props map<string,string>, raster binary"
)

PACKED_SCHEMA = (
    "z int, x long, y long, layer string, feature_id long, geom_type int, "
    "kind string, xs array<double>, ys array<double>, offsets array<long>, "
    "exterior array<boolean>, props map<string,string>, raster binary"
)

GPACK_SCHEMA = (
    "z int, x long, y long, layer string, feature_id long, geom_type int, "
    "_gpk binary, env_minx double, env_miny double, env_maxx double, "
    "env_maxy double, props map<string,string>"
)


# ---------------------------------------------------------------------------
# the decode core: one tile walk, one layer state, one geometry ladder
# ---------------------------------------------------------------------------

def _tile_layers(z: int, x: int, y: int, tile):
    """The one tile walk: a stored (possibly compressed) tile -> (layer
    index in wire order, layer message bytes, tile mercator bounds) per
    layer. An empty or null tile yields nothing."""
    if not tile:
        return
    data = Z.decompress(bytes(tile))
    bounds = tilemath.tile_mercator_bbox_np(x, y, z)
    for li, layer_bytes in enumerate(pbf.decode_tile(data)):
        yield li, layer_bytes, bounds


class _LayerBatch:
    """Per-layer decode state shared by every projection: feature fields
    as GLOBAL flat arrays when the lockstep wire walk holds
    (pbf.decode_features_batch return_global) with the geometry
    batch-decoded straight off the global varint array
    (commands.decode_geometry_vec_batch_global — vectorized frontier
    header walk), falling back to per-feature parsing on exotic wire
    shapes. Either way the exposed surface is identical. Property
    values are stringified once per layer, or kept as their decoded
    python variants when `typed`."""

    __slots__ = ("n", "ids", "types", "tags", "tag_off", "glen", "batched",
                 "seg", "_feats", "_fb", "dec_args", "name", "keys", "vals")

    def __init__(self, layer: dict, dec_args: dict, typed: bool = False):
        self.dec_args = dec_args
        self.name = layer["name"]
        self.keys = layer["keys"]
        self.vals = (
            list(layer["values"]) if typed
            else [None if v is None else str(v) for v in layer["values"]]
        )
        msgs = layer["features"]
        # shape heuristic: the lockstep walk + ragged gathers win on
        # MANY SMALL features (the dense-tile shape) but cost ~3x the
        # per-feature parse on a few huge ones (the reference's enf /
        # multi_line bench tiles, ~40KB/feature) — those take the
        # per-feature lane, whose geometry decode is vectorized anyway
        few_big = len(msgs) > 0 and sum(len(m) for m in msgs) > 2048 * len(msgs)
        fb = (
            None if few_big
            else pbf.decode_features_batch(msgs, return_global=True)
        )
        self._fb = fb
        if fb is not None:
            self._feats = None
            self.n = fb["n"]
            self.ids = fb["ids"].tolist()
            self.types = fb["types"].tolist()
            self.tags = fb["tag_vals"].tolist()
            self.tag_off = fb["tag_off"].tolist()
            self.glen = np.diff(fb["geom_off"]).tolist()
            self.batched, self.seg = Cmd.decode_geometry_vec_batch_global(
                fb["geom_vals"], fb["geom_off"], fb["types"],
                segmented=True, **dec_args,
            )
        else:  # exotic wire shapes: parse each feature alone
            feats = [pbf.decode_feature_arrays(m) for m in msgs]
            self._feats = feats
            self.n = len(feats)
            self.ids = [f["id"] for f in feats]
            self.types = [f["type"] for f in feats]
            tags: list[int] = []
            tag_off = [0]
            for f in feats:
                tags.extend(f["tags"])
                tag_off.append(len(tags))
            self.tags, self.tag_off = tags, tag_off
            self.glen = [len(f["geometry"]) for f in feats]
            self.batched, self.seg = Cmd.decode_geometry_vec_batch(
                [f["geometry"] for f in feats], self.types,
                segmented=True, **dec_args,
            )

    def _commands(self, fi: int):
        if self._feats is not None:
            return self._feats[fi]["geometry"]
        fb = self._fb
        return fb["geom_vals"][fb["geom_off"][fi] : fb["geom_off"][fi + 1]]

    def raster(self, fi: int):
        if self._feats is not None:
            return self._feats[fi]["raster"]
        fb = self._fb
        s = fb["rast_s"][fi]
        return fb["buf"][s : s + fb["rast_l"][fi]].tobytes() if s >= 0 else None

    def geometry(self, fi: int, packed: bool = False):
        """The one geometry ladder: None (no geometry), "seg" (the
        feature sits in the segmented batch arrays `self.seg`), or a
        decoded geom tuple. A feature the batch declined is re-decoded
        alone: vectorized when its command stream has >= 64 commands,
        else — or when that declines too — by the scalar state machine,
        which owns the exact v1/v2 error matrix. packed=True lets the
        vectorized re-decode return its flat ("packed", dict) form, so a
        large feature never becomes one Python object per part."""
        if not self.glen[fi]:
            return None
        g = self.batched[fi]
        if g is None:
            cmds, gt = self._commands(fi), self.types[fi]
            if self.glen[fi] >= 64:
                g = Cmd.decode_geometry_vec(cmds, gt, packed=packed, **self.dec_args)
            if g is None:
                g = Cmd.decode_geometry(cmds, gt, **self.dec_args)
        return g

    def props(self, fi: int) -> dict:
        # out-of-range indices are silently skipped, like the reference
        # featureset (vector_tile_featureset_pbf.ipp:147-148)
        props = {}
        tags, keys, vals = self.tags, self.keys, self.vals
        n_keys, n_vals = len(keys), len(vals)
        for i in range(self.tag_off[fi], self.tag_off[fi + 1] - 1, 2):
            ki, vi = tags[i], tags[i + 1]
            if ki >= n_keys or vi >= n_vals:
                continue
            props[keys[ki]] = vals[vi]
        return props


def _open_layer(layer_bytes: bytes, bounds, bbox=None, typed: bool = False):
    """Layer message -> its _LayerBatch, or None for a layer the scan
    skips. datasource_pbf construction semantics (test/unit/
    datasource-pbf/from_layer.cpp): an unknown layer version yields no
    features but processing continues with subsequent layers; a v2
    layer without a declared extent is rejected (the reference throws —
    the scan skips it so one hostile layer cannot fail a distributed
    decode; the validity checker carries the LAYER_HAS_NO_EXTENT
    finding)."""
    layer = pbf.decode_layer(bytes(layer_bytes))
    version = layer["version"]
    if version not in (1, 2) or (version == 2 and not layer["has_extent"]):
        return None
    minx, _miny, maxx, maxy = bounds
    # decode transform: px -> mercator (datasource_pbf scale semantics)
    scale = layer["extent"] / (float(maxx) - float(minx))
    dec_args = dict(
        version=version,
        tile_x=float(minx),
        tile_y=float(maxy),
        scale_x=scale,
        scale_y=-scale,  # y down in tile space
        bbox=bbox,
    )
    return _LayerBatch(layer, dec_args, typed)


def _scan(tiles: DataFrame, schema: str, project, keep: tuple = ()) -> DataFrame:
    """The per-batch framing of the row scans: every tile of an Arrow
    batch goes through the tile walk, `project(z, x, y, layer index,
    layer bytes, bounds)` turns each layer into row tuples, and the
    `keep` input columns ride along at the end of each row. Rows map
    onto `schema` by position."""

    def kernel(iterator):
        for pdf in iterator:
            out = []
            for z, x, y, tile, *extras in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["tile"], *(pdf[c] for c in keep)
            ):
                z, x, y, extras = int(z), int(x), int(y), tuple(extras)
                for li, layer_bytes, bounds in _tile_layers(z, x, y, tile):
                    out.extend(r + extras for r in project(z, x, y, li, layer_bytes, bounds))
            if out:
                yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "tile", *keep).mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# projection 1: WKT rows
# ---------------------------------------------------------------------------

def decode_layer_rows(
    z: int, x: int, y: int, layer_bytes: bytes, bbox=None, bounds=None
) -> list[tuple]:
    """One layer message -> decoded feature rows (mercator coordinates).
    `bounds` is the tile mercator bbox (computed from z/x/y if absent) —
    passing it lets callers amortize it across a tile's layers."""
    if bounds is None:
        bounds = tilemath.tile_mercator_bbox_np(x, y, z)
    lb = _open_layer(layer_bytes, bounds, bbox)
    if lb is None:
        return []
    # features the batch kept segmented render straight from the flat
    # ring arrays; decoded tuples go through one batch WKT pass
    seg_wkt: dict[int, str] = {}
    for gt, entry in (lb.seg or {}).items():
        ids, wkts = G.wkt_from_segmented(entry, is_polygon=(gt == Cmd.POLYGON))
        seg_wkt.update(zip(ids, wkts))
    wkt_out: list = [None] * lb.n
    tuples: list = []  # (feature index, geom tuple)
    for fi in range(lb.n):
        g = lb.geometry(fi)
        if g is None:
            continue
        if g == "seg":
            wkt_out[fi] = seg_wkt.get(fi)
        elif g[0] != "empty":
            tuples.append((fi, g))
    for (fi, _), s in zip(tuples, G.to_wkt_batch([g for _, g in tuples])):
        wkt_out[fi] = s
    return [
        (
            z, x, y, lb.name, lb.ids[fi], lb.types[fi],
            wkt_out[fi], lb.props(fi), lb.raster(fi),
        )
        for fi in range(lb.n)
    ]


def decode_tile_rows(z: int, x: int, y: int, tile: bytes, bbox=None) -> list[tuple]:
    """One tile -> decoded feature rows (mercator coordinates)."""
    return [
        row
        for _li, layer_bytes, bounds in _tile_layers(z, x, y, tile)
        for row in decode_layer_rows(z, x, y, layer_bytes, bbox=bbox, bounds=bounds)
    ]


def decode_tiles(tiles: DataFrame, bbox=None) -> DataFrame:
    """tiles: (z, x, y, tile binary, ...) -> decoded feature rows (WKT
    text out — the compat/interop scan; pipelines ride the packed/gpack
    forms). `bbox` pushes a mercator query box into the decoder."""

    def project(z, x, y, _li, layer_bytes, bounds):
        return decode_layer_rows(z, x, y, layer_bytes, bbox=bbox, bounds=bounds)

    return _scan(tiles, DECODED_SCHEMA, project)


# ---------------------------------------------------------------------------
# projection 2: packed ragged geometry
# ---------------------------------------------------------------------------

def iter_layer_packed(layer_bytes: bytes, bounds, bbox=None, typed: bool = False) -> list[tuple]:
    """One layer message -> (name, feature_id, geom_type, pk_dict, props,
    raster) tuples, where pk_dict is the packed ragged geometry
    {kind, xs, ys, offsets[, exterior]} or None (raster-only feature).
    Shared by every packed consumer (packed scan, gpack scan, packed
    point lookup); empty/bbox-filtered geometry features without raster
    are dropped, like the reference featureset's next() skip
    (src/vector_tile_featureset_pbf.ipp:113-180). typed=True keeps
    property values as their decoded python variants (int/float/bool/
    str) instead of stringifying — the re-encode merge path needs the
    Value types back (vector_tile_load_tile.hpp:93-137)."""
    lb = _open_layer(layer_bytes, bounds, bbox, typed)
    if lb is None:
        return []
    seg_pk = _packed_from_seg(lb.seg)
    out = []
    for fi in range(lb.n):
        g = lb.geometry(fi, packed=True)
        pk = None
        if g == "seg":
            pk = seg_pk[fi]
        elif g is not None and g[0] != "empty":
            pk = g[1] if g[0] == "packed" else _pack_from_parts(g)[1]
        raster = lb.raster(fi)
        if pk is None and raster is None:
            continue
        out.append((lb.name, lb.ids[fi], lb.types[fi], pk, lb.props(fi), raster))
    return out


def decode_tiles_packed(tiles: DataFrame, bbox=None) -> DataFrame:
    """Decode scan with RAGGED geometry output: flat xs/ys + part
    offsets per feature (Arrow list columns), never a per-part Python
    object or a WKT string. This is the scale form of S2/S3 — a feature
    with 168k line parts (the reference's multi_line bench tile) is
    three arrays here, and downstream Spark ops explode/aggregate the
    list columns JVM-side. `bbox` pushes a mercator query box INTO the
    geometry decoder (the reference's filter_at_point/bbox query,
    src/vector_tile_datasource_pbf.ipp:196-216)."""

    def project(z, x, y, _li, layer_bytes, bounds):
        for name, fid, gt, pk, props, raster in iter_layer_packed(
            layer_bytes, bounds, bbox=bbox
        ):
            geom = (
                (None,) * 5 if pk is None
                else (pk["kind"], pk["xs"], pk["ys"], pk["offsets"], pk.get("exterior"))
            )
            yield (z, x, y, name, fid, gt, *geom, props, raster)

    return _scan(tiles, PACKED_SCHEMA, project)


def _packed_from_seg(seg) -> dict:
    """Segmented batch-decode arrays -> {feature id: packed dict}. Per
    feature this is three array VIEWS into the flat batch output plus an
    offsets subtraction — no vstack, no per-part objects."""
    out: dict[int, dict] = {}
    if not seg:
        return out
    kind_of = {Cmd.LINESTRING: "multilinestring", Cmd.POLYGON: "multipolygon"}
    for gt, entry in seg.items():
        rl = entry["ring_len"]
        if len(rl) == 0:
            continue
        rf = entry["ring_feat"]
        coords = entry["coords"]
        ex = entry.get("exterior")
        roff = np.concatenate([[0], np.cumsum(rl)]).astype(np.int64)
        fb = np.flatnonzero(np.concatenate([[True], rf[1:] != rf[:-1]]))
        fe = np.concatenate([fb[1:], [len(rl)]])
        kind = kind_of[gt]
        xs_all = np.ascontiguousarray(coords[:, 0])
        ys_all = np.ascontiguousarray(coords[:, 1])
        for a, b in zip(fb.tolist(), fe.tolist()):
            s, e = roff[a], roff[b]
            d = {
                "kind": kind,
                "xs": xs_all[s:e],
                "ys": ys_all[s:e],
                "offsets": roff[a : b + 1] - s,
            }
            if ex is not None:
                d["exterior"] = ex[a:b]
            out[int(rf[a])] = d
    return out


def _pack_from_parts(geom) -> tuple:
    """Decoded geom tuple -> the packed dict form."""
    kind, val = geom
    if kind == "empty":
        return ("empty", None)
    ext = None
    if kind in ("point", "multipoint"):
        parts, out_kind = [np.atleast_2d(val)], "multipoint"
    elif kind in ("linestring", "multilinestring"):
        parts = [val] if kind == "linestring" else val
        out_kind = "multilinestring"
    else:  # polygon / multipolygon: each polygon's first ring is its exterior
        polys = [val] if kind == "polygon" else val
        parts = [r for p in polys for r in p]
        out_kind = "multipolygon"
        ext = np.array([i == 0 for p in polys for i in range(len(p))], dtype=bool)
    parts = [np.asarray(p) for p in parts]
    lens = np.asarray([len(p) for p in parts], dtype=np.int64)
    flat = parts[0] if len(parts) == 1 else np.vstack(parts)
    return ("packed", {
        "kind": out_kind, "xs": flat[:, 0].astype(np.float64),
        "ys": flat[:, 1].astype(np.float64),
        "offsets": np.concatenate([[0], np.cumsum(lens)]).astype(np.int64),
        "exterior": ext,
    })


def features_at_point(
    tiles: DataFrame, lon: float, lat: float, tol_merc: float = 0.0,
    packed: bool = True,
) -> DataFrame:
    """S4: point-lookup scan over encoded tiles — decode with a tiny bbox
    pushed *into* the decoder (the reference's filter_at_point,
    src/vector_tile_datasource_pbf.ipp:196-216).

    Cell pruning happens BEFORE any decode: only tiles whose mercator
    bbox (grown by the tolerance) contains the query point survive the
    Column filter, so a z-keyed/partitioned tile store prunes to O(1)
    tiles per zoom instead of scanning the world. The default return is
    the ragged array form (PACKED_SCHEMA) — the scale path when hits
    feed further relational stages; `packed=False` yields WKT rows for
    interop (the compat boundary, via decode_tiles)."""
    from pyspark.sql import functions as F

    mx, my = tilemath.mercator_np(lon, lat)
    bbox = (float(mx) - tol_merc, float(my) - tol_merc, float(mx) + tol_merc, float(my) + tol_merc)

    minx, miny, maxx, maxy = tilemath.tile_bbox_cols(
        F.col("z"), F.col("x"), F.col("y")
    )
    tiles = tiles.where(
        (F.lit(bbox[2]) >= minx) & (F.lit(bbox[0]) < maxx)
        & (F.lit(bbox[3]) >= miny) & (F.lit(bbox[1]) < maxy)
    )
    if packed:
        return decode_tiles_packed(tiles, bbox=bbox)
    return decode_tiles(tiles, bbox=bbox)


# ---------------------------------------------------------------------------
# projection 3: gpack + envelope
# ---------------------------------------------------------------------------

def decode_tiles_gpack(tiles: DataFrame, merge_col: str | None = None) -> DataFrame:
    """Decode scan emitting the compact gpack geometry + its mercator
    envelope — the exact input shape build_geom_tiles' encode stages
    read. The decode->re-encode pipelines (pyramid re-tiling, composite
    slow path) ride this: geometry crosses the boundary as one binary
    column, no WKT text and no per-part Python objects, and the
    envelope stage of the encoder is already paid here. The default
    scan is geometry-only.

    merge_col names the input source-order column of the composite
    re-encode merge and switches to its row shape: after the base
    columns come layer_idx (wire order of the layer within its tile),
    feat_idx (wire order of the kept feature within its layer), a ptype
    map (key -> one of s/i/f/b) so the stringified props can be
    restored to their Value variant types at re-encode, the
    Feature.raster bytes, and merge_col itself. Raster-only features
    are KEPT (as empty-geometry rows, _gpk = the empty pack) so the
    merge can carry them."""
    merge = merge_col is not None
    schema = GPACK_SCHEMA
    keep = (merge_col,) if merge else ()
    if merge:
        dtype = tiles.schema[merge_col].dataType.simpleString()
        schema += (
            ", layer_idx int, feat_idx long, ptype map<string,string>, "
            f"raster binary, {merge_col} {dtype}"
        )

    def project(z, x, y, li, layer_bytes, bounds):
        fi = 0
        for name, fid, gt, pk, props, raster in iter_layer_packed(
            layer_bytes, bounds, typed=merge
        ):
            if pk is None:
                if not merge:
                    continue  # raster-only: nothing to re-tile
                gpk, env = bytes([0]), (float("nan"),) * 4
            else:
                gpk, env = G.gpack_from_packed(
                    pk["kind"], pk["xs"], pk["ys"], pk["offsets"], pk.get("exterior"),
                )
            row = (z, x, y, name, fid, gt, gpk, *env)
            if merge:
                yield row + (
                    {k: None if v is None else str(v) for k, v in props.items()},
                    li, fi, {k: _vtag(v) for k, v in props.items()}, raster,
                )
            else:
                yield row + (props,)
            fi += 1

    return _scan(tiles, schema, project, keep)


def _vtag(v) -> str:
    """Value-variant tag for the merge gpack scan: b(ool) before i(nt) —
    bool is an int subclass."""
    if isinstance(v, bool):
        return "b"
    if isinstance(v, int):
        return "i"
    if isinstance(v, float):
        return "f"
    return "s"


def parse_tagged_value(v, tag: str):
    """Inverse of the merge gpack scan's stringification: restore the
    python variant so the re-encoder writes the same Value type family
    (ints stay ints — the r4 nullable-int bug class)."""
    if v is None:
        return None
    if tag == "i":
        return int(v)
    if tag == "f":
        return float(v)
    if tag == "b":
        return v == "True"
    return v


# ---------------------------------------------------------------------------
# hot-tile split: the pre-stage of every decode scan
# ---------------------------------------------------------------------------

def _layer_sections(data: bytes):
    """One walk over a layer message's top-level fields ->
    (misc_bytes, n_keys, value starts (CONTIGUOUS run only — None if
    value frames are interleaved with other fields), value run end,
    feature runs [(start, end)]). misc keeps name, keys, extent,
    version and unknown fields verbatim, order preserved. The walk is
    the only per-frame Python loop of the split — kept minimal (frame
    length reads, no payload parsing)."""
    n = len(data)
    pos = 0
    misc = bytearray()
    n_keys = 0
    vstart: list[int] = []
    vend = 0
    v_contig = True
    runs: list[tuple[int, int]] = []
    read_varint = pbf.read_varint
    append_v = vstart.append
    while pos < n:
        start = pos
        b = data[pos]
        if b == 0x12 or b == 0x22:  # Feature frame / Value frame
            b0 = data[pos + 1]
            if b0 < 0x80:
                pos = pos + 2 + b0
            else:
                ln, p2 = read_varint(data, pos + 1)
                pos = p2 + ln
            if b == 0x12:
                if runs and runs[-1][1] == start:
                    runs[-1] = (runs[-1][0], pos)
                else:
                    runs.append((start, pos))
            else:
                if vstart and vend != start:
                    v_contig = False
                append_v(start)
                vend = pos
            continue
        t, pos = read_varint(data, pos)
        field, wire = t >> 3, t & 0x7
        if wire == 2:  # WT_LEN
            ln, pos = read_varint(data, pos)
            pos += ln
        else:
            pos = pbf.skip_field(data, pos, wire)
        if field == 3 and wire == 2:
            n_keys += 1
        misc += data[start:pos]
    return bytes(misc), n_keys, (vstart if v_contig else None), vend, runs


def _layer_sections_fast(data: bytes):
    """Fast lane of `_layer_sections` for this engine's own layer layout
    (pbf.encode_layer_packed: name, keys, values run, extent, version,
    features as the pure suffix). The only per-frame loop left is a
    minimal value-frame hop (two byte reads per value); feature frames
    are NOT walked at all — the caller's vectorized varint decode +
    `_packed_rows_ok` structural check validates the suffix, so a layer
    that merely looks right cannot slip through. Returns None whenever
    the layout assumptions break (caller falls back to the generic
    walk)."""
    n = len(data)
    pos = 0
    misc = bytearray()
    n_keys = 0
    read_varint = pbf.read_varint
    # header fields before the values run
    while pos < n and data[pos] != 0x22:
        start = pos
        b = data[pos]
        if b == 0x12:
            return None  # features before values: not our layout
        t, pos = read_varint(data, pos)
        field, wire = t >> 3, t & 0x7
        if wire == 2:
            ln, pos = read_varint(data, pos)
            pos += ln
        else:
            pos = pbf.skip_field(data, pos, wire)
        if field == 3 and wire == 2:
            n_keys += 1
        misc += data[start:start + (pos - start)]
    if pos >= n:
        return None
    # values run: tight hop (lengths <= 2 varint bytes, else bail)
    vstart: list[int] = []
    append_v = vstart.append
    while pos < n and data[pos] == 0x22:
        append_v(pos)
        b0 = data[pos + 1]
        if b0 < 0x80:
            pos = pos + 2 + b0
        else:
            b1 = data[pos + 2]
            if b1 >= 0x80:
                return None
            pos = pos + 3 + ((b0 & 0x7F) | (b1 << 7))
    if pos > n:
        return None
    vend = pos
    # trailing scalar fields (extent, version) before the feature suffix
    while pos < n and data[pos] != 0x12:
        start = pos
        b = data[pos]
        if b == 0x22:
            return None  # second value run: generic walk owns this
        t, pos = read_varint(data, pos)
        field, wire = t >> 3, t & 0x7
        if wire == 2:
            ln, pos = read_varint(data, pos)
            pos += ln
        else:
            pos = pbf.skip_field(data, pos, wire)
        if field == 3 and wire == 2:
            n_keys += 1
        misc += data[start:start + (pos - start)]
    if pos >= n:
        return None
    # everything from the first feature frame on is taken as the feature
    # run; the caller's % w + _packed_rows_ok checks reject impostors
    return bytes(misc), n_keys, vstart, vend, [(pos, n)]


def _split_uniform_point_layer(layer_bytes: bytes, chunk_bytes: int):
    """Dictionary-slicing split for this engine's uniform point framing
    (the salted encoder's output — operators/encode.py — whose
    per-occurrence dictionary makes values ~70% of a hot tile's bytes):
    each chunk re-encodes its features with tag value indices SHIFTED so
    it carries only the [vmin, vmax] slice of the value dictionary its
    features actually reference — no dictionary repetition across
    chunks. Returns list[bytes] or None when the layer is not uniform
    (caller falls back to the generic full-header split)."""
    data = bytes(layer_bytes)
    try:
        sec = _layer_sections_fast(data)
    except (IndexError, ValueError):
        sec = None
    if sec is not None:
        out = _split_uniform_from_sections(data, chunk_bytes, sec)
        if out is not None:
            return out
        # the fast lane's unwalked feature suffix failed verification:
        # one layer in a thousand has trailing fields — re-walk generically
    try:
        sec = _layer_sections(data)
    except (IndexError, ValueError):
        return None
    return _split_uniform_from_sections(data, chunk_bytes, sec)


def _split_uniform_from_sections(data: bytes, chunk_bytes: int, sec):
    misc, c, vstart, vend, runs = sec
    if c == 0 or not vstart or not runs:
        return None
    region = (
        data[runs[0][0] : runs[0][1]]
        if len(runs) == 1
        else b"".join(data[a:b] for a, b in runs)
    )
    res = pbf.uniform_point_columns(region, c)
    if res is None:
        return None
    vidx, zz, row_ok = res
    if not row_ok.all():
        return None
    n = len(vidx)
    # value spans: starts + one shared end (the walk proved the run is
    # contiguous, so each frame ends where the next begins)
    vs = np.empty(len(vstart) + 1, dtype=np.int64)
    vs[:-1] = vstart
    vs[-1] = vend
    if int(vidx.max()) >= len(vstart):
        return None  # dangling value reference: keep the layer whole
    n_chunks = max(1, -(-(len(region) + (vend - vstart[0])) // chunk_bytes))
    if n_chunks <= 1:
        return None
    rows_per = -(-n // n_chunks)
    buf = np.frombuffer(data, dtype=np.uint8)
    # exact referenced-value gather + compact index remap per chunk: a
    # chunk carries ONLY the dictionary entries its features use (a
    # range slice degenerates when a shared value sits at the far end of
    # the dictionary — the whole dict would ride every chunk). The tag
    # streams of ALL chunks re-encode in ONE vectorized pass; the blob
    # is then cut at per-feature frame boundaries.
    bounds = list(range(0, n, rows_per)) + [n]
    dicts: list[bytes] = []
    new_tags = np.empty((n, 2 * c), dtype=np.int64)
    new_tags[:, 0::2] = np.arange(c, dtype=np.int64)  # key ordinals (verified)
    for r0, r1 in zip(bounds, bounds[1:]):
        uniq, inv = np.unique(vidx[r0:r1], return_inverse=True)
        big, _offs = pbf.ragged_gather(
            buf, vs[uniq], vs[uniq + 1] - vs[uniq], np.arange(len(uniq))
        )
        dicts.append(big.tobytes())
        new_tags[r0:r1, 1::2] = inv.reshape(r1 - r0, c)
    blob, flens = pbf.encode_point_features_packed(new_tags, zz, return_lengths=True)
    frame_off = np.concatenate([[0], np.cumsum(flens)]).astype(np.int64)
    return [
        misc + dicts[i] + blob[frame_off[r0] : frame_off[r1]]
        for i, (r0, r1) in enumerate(zip(bounds, bounds[1:]))
    ]


def split_tile_chunks_smart(tile_data: bytes, chunk_bytes: int) -> list[bytes]:
    """pbf.split_tile_chunks with the dictionary-slicing lane for this
    engine's uniform point layers; any other layer shape takes the
    generic feature-frame split with the full header repeated."""
    out: list[bytes] = []
    for layer_bytes in pbf.decode_tile(tile_data):
        if len(layer_bytes) <= chunk_bytes:
            parts = [layer_bytes]
        else:
            parts = _split_uniform_point_layer(layer_bytes, chunk_bytes)
            if parts is None:
                try:
                    parts = pbf.split_layer_chunks(layer_bytes, chunk_bytes)
                except (IndexError, ValueError):
                    # hostile/truncated framing: ship the layer whole —
                    # the decode stage owns the error semantics
                    parts = [layer_bytes]
        for p in parts:
            buf = bytearray()
            pbf.add_len_field(buf, 3, p)
            out.append(bytes(buf))
    return out if out else [tile_data]


def explode_hot_tiles(
    tiles: DataFrame,
    chunk_bytes: int = 1 << 20,
    hot_bytes: int = 1 << 21,
) -> DataFrame:
    """Scale pre-stage for every decode scan: a monolithic tile (one
    row = one task = the decode wall floor at 100x data — r4 BENCH.md's
    300k-feature z13 straggler) is split on feature-frame boundaries
    into standalone mini-tiles of ~chunk_bytes each, which then decode
    in PARALLEL tasks. Output schema is (z, x, y, tile) — the chunks are
    valid uncompressed tile messages, so decode_tiles /
    decode_tiles_packed / decode_tiles_gpack / decode_tiles_columnar
    consume them unchanged (decompress passes raw pbf through).

    Only rows whose stored payload is >= hot_bytes pay the split + the
    round-robin shuffle that spreads their chunks across tasks; cold
    tiles stream through untouched on their original partitioning. The
    per-tile decoded row set is preserved exactly (feature order within
    a layer is preserved across its chunk sequence); a tile's features
    merely arrive from several tasks — the same contract as any
    distributed scan. Counterpart of the salted ENCODE path
    (operators/encode.py) on the decode side."""
    from pyspark.sql import functions as F

    src = tiles.select("z", "x", "y", "tile")
    cold = src.where(F.length("tile") < hot_bytes)
    hot = src.where(F.length("tile") >= hot_bytes)
    # r7: prechunked storage (build_point_tiles(prechunk_hot=True)) never
    # stores a row >= hot_bytes, yet the split machinery still cost a
    # second full scan, a union and an (empty) round-robin exchange
    # (+0.7s on the 695k-tile bench decode). One bounded probe decides:
    # when no stored row is hot, the cold filter IS the whole input.
    if hot.isEmpty():
        return cold

    def kernel(iterator):
        for pdf in iterator:
            out_z, out_x, out_y, out_t = [], [], [], []
            for z, x, y, tile in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile"]):
                if not tile:
                    continue
                data = Z.decompress(bytes(tile))
                for chunk in split_tile_chunks_smart(data, chunk_bytes):
                    out_z.append(z)
                    out_x.append(x)
                    out_y.append(y)
                    out_t.append(chunk)
            if out_t:
                yield pd.DataFrame(
                    {"z": out_z, "x": out_x, "y": out_y, "tile": out_t}
                )

    chunks = hot.mapInPandas(kernel, schema="z int, x long, y long, tile binary")
    npart = int(tiles.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return cold.unionByName(chunks.repartition(npart))


# ---------------------------------------------------------------------------
# projection 4: columnar point rows (matches the reference's
# decode-throughput benchmark direction, bench/readme.md:24-30)
# ---------------------------------------------------------------------------

def _packed_rows_ok(m: np.ndarray, ml: np.ndarray, c: int) -> np.ndarray:
    """Per-row structural verification of the packed point framing.

    Beyond the constant frame bytes, every declared length (feature,
    tags, geometry) is checked against the actual varint byte lengths,
    and tag key indices must equal their column position — so a foreign
    layer whose byte stream merely *parses* as varints cannot slip
    through the reshape (closes the layer_features_region early-return
    trust gap)."""
    mi = m.astype(np.int64, copy=False)
    ok = (
        (mi[:, 0] == 0x12)
        & (mi[:, 2] == 0x12)
        & (mi[:, 4 + 2 * c] == 0x18)
        & (mi[:, 5 + 2 * c] == Cmd.POINT)
        & (mi[:, 6 + 2 * c] == 0x22)
        & (mi[:, 8 + 2 * c] == 0x09)
        # declared feature length == bytes of everything after its varint
        & (mi[:, 1] == ml[:, 2:].sum(axis=1))
        # declared tags length == bytes of the 2c tag varints
        & (mi[:, 3] == ml[:, 4 : 4 + 2 * c].sum(axis=1))
        # declared geometry length == MoveTo byte + zigzag coord bytes
        & (mi[:, 7 + 2 * c] == 1 + ml[:, 9 + 2 * c] + ml[:, 10 + 2 * c])
    )
    for j in range(c):
        ok &= mi[:, 4 + 2 * j] == j
    return ok


def _point_rows(z: int, x: int, y: int, layer_bytes: bytes, prop_keys: list[str]) -> list[tuple]:
    """Columnar projection of the core for a layer the uniform lane
    cannot take: one (z, x, y, layer, mx, my, *props) row per feature.
    mx/my come straight from a decoded single point; any other geometry
    keeps NaN by design."""
    lb = _open_layer(layer_bytes, tilemath.tile_mercator_bbox_np(x, y, z))
    if lb is None:
        return []
    rows = []
    nan = float("nan")
    for fi in range(lb.n):
        g = lb.geometry(fi)
        mx = my = nan
        if g is not None and g != "seg" and g[0] == "point":
            mx, my = float(g[1][0]), float(g[1][1])
        props = lb.props(fi)
        rows.append((z, x, y, lb.name, mx, my, *(props.get(k) for k in prop_keys)))
    return rows


def decode_tiles_columnar(tiles: DataFrame, prop_keys: list[str]) -> DataFrame:
    """Scale-path decode: point tiles -> columnar rows (one column per
    property key). The per-tile varint streams of a whole Arrow batch
    concatenate into ONE vectorized decode + reshape (tiny tiles cost
    ~zlib only); non-uniform layers are projected from the decode core."""
    out_schema = (
        "z int, x long, y long, layer string, mx double, my double, "
        + ", ".join(f"`{k}` string" for k in prop_keys)
    )
    kernel = columnar_kernel(prop_keys)
    return tiles.select("z", "x", "y", "tile").mapInPandas(kernel, schema=out_schema)


def columnar_kernel(prop_keys: list[str]):
    """The mapInPandas kernel of decode_tiles_columnar, exposed so the
    bench harness can drive the exact distributed stages single-core
    (the dense-tile decode anchor)."""
    c_expected = len(prop_keys)
    w = 11 + 2 * c_expected
    fallback_cols = ["z", "x", "y", "layer", "mx", "my", *prop_keys]

    def kernel(iterator):
        for pdf in iterator:
            n_tiles = len(pdf)
            if n_tiles == 0:
                continue
            zs = pdf["z"].to_numpy()
            xs = pdf["x"].to_numpy()
            ys = pdf["y"].to_numpy()
            tiles_col = pdf["tile"].to_numpy()
            blob_tile: list[int] = []
            blobs: list[bytes] = []
            fallback_rows: list[tuple] = []

            def fallback(i):
                t = blob_tile[i]
                fallback_rows.extend(
                    _point_rows(int(zs[t]), int(xs[t]), int(ys[t]), blobs[i], prop_keys)
                )

            # the uniform lane gathers the layers of the whole batch for
            # one vectorized decode (no per-tile bounds or layer state)
            for t in range(n_tiles):
                tile = tiles_col[t]
                if not tile:
                    continue
                data = Z.decompress(bytes(tile))
                for layer_bytes in pbf.decode_tile(data):
                    blobs.append(layer_bytes)  # already a bytes slice
                    blob_tile.append(t)
            frames = []
            nlay = len(blobs)
            if nlay:
                # one vectorized header walk for the whole batch (the
                # per-layer Python walk was ~75% of worst-case decode);
                # a batch-global parse failure (hostile bytes) routes
                # every layer through the strict per-layer parser
                try:
                    meta = pbf.parse_layers_batch(blobs)
                except Exception:
                    meta = None
            if nlay and meta is None:
                for i in range(nlay):
                    fallback(i)
                nlay = 0
            if nlay:
                buf = meta["buf"]
                ltile = np.asarray(blob_tile, dtype=np.int64)

                key_counts = np.bincount(
                    meta["key_layer"], minlength=nlay
                ) if len(meta["key_layer"]) else np.zeros(nlay, dtype=np.int64)
                koff = np.concatenate([[0], np.cumsum(key_counts)[:-1]])
                cand = np.flatnonzero(
                    meta["ok"]
                    & (key_counts == c_expected)
                    & (meta["feat_start"] >= 0)
                    & (meta["feat_end"] > meta["feat_start"])
                )
                for j, kname in enumerate(prop_keys):
                    if len(cand) == 0:
                        break
                    cand = cand[meta["keys"][koff[cand] + j] == kname]
                # varint count per candidate region: segmented terminator
                # sums via reduceat (a full-buffer cumsum was the batch's
                # single most expensive numpy op)
                nvals = np.empty(0, dtype=np.int64)
                if len(cand):
                    # one zero pad: a region ending exactly at the buffer
                    # end would otherwise be an out-of-bounds reduceat index
                    term = np.concatenate(
                        [((buf & 0x80) == 0).astype(np.int32), np.zeros(1, np.int32)]
                    )
                    bounds = np.stack(
                        [meta["feat_start"][cand], meta["feat_end"][cand]], axis=1
                    ).reshape(-1)
                    nvals = np.add.reduceat(term, bounds)[::2].astype(np.int64)
                    keep_c = nvals % w == 0
                    cand, nvals = cand[keep_c], nvals[keep_c]

                uniform = np.zeros(nlay, dtype=bool)
                uniform[cand] = True
                for i in np.flatnonzero(~uniform):
                    fallback(i)

            if nlay and len(cand):
                flen = meta["feat_end"][cand] - meta["feat_start"][cand]
                big, _offs = pbf.ragged_gather(
                    buf, meta["feat_start"][cand], flen, np.arange(len(cand))
                )
                # targeted-column decode: boundaries once, then only the
                # value-index + coord columns gather-decode; constants
                # and declared lengths verify per row (the full-stream
                # decode_varints_vec was ~8 whole-buffer passes)
                res = pbf.uniform_point_columns(big, c_expected)
                feat_counts = nvals // w
                rep = np.repeat(np.arange(len(cand)), feat_counts)
                if res is None:
                    # stream does not frame at all (hostile): per-layer
                    # strict fallback for every candidate layer
                    vidx_m = np.empty((0, c_expected), dtype=np.uint64)
                    zz_m = np.empty((0, 2), dtype=np.uint32)
                    row_ok = np.zeros(len(rep), dtype=bool)
                else:
                    vidx_m, zz_m, row_ok = res
                if not row_ok.all():
                    # exotic framing: fall back ONLY the offending layers
                    bad_meta = np.zeros(len(cand), dtype=bool)
                    np.logical_or.at(bad_meta, rep, ~row_ok)
                    for ci in np.flatnonzero(bad_meta):
                        fallback(cand[ci])
                    keep = ~bad_meta[rep]
                    if res is not None:
                        vidx_m, zz_m = vidx_m[keep], zz_m[keep]
                    rep = rep[keep]
                if len(rep):
                    tz = zs[ltile[cand]][rep]
                    tx = xs[ltile[cand]][rep]
                    ty = ys[ltile[cand]][rep]
                    names = meta["name"][cand][rep]
                    extents = meta["extent"][cand].astype(np.float64)[rep]
                    minx, miny, maxx, maxy = tilemath.tile_mercator_bbox_np(tx, ty, tz)
                    scale = extents / (maxx - minx)
                    px = Cmd.unzigzag32(zz_m[:, 0]).astype(np.float64)
                    py = Cmd.unzigzag32(zz_m[:, 1]).astype(np.float64)
                    mx = minx + px / scale
                    my = maxy - py / scale
                    # global value dictionary: concat per-layer dicts (flat
                    # from the batch parse), shift tag indices per layer
                    all_counts = np.bincount(
                        meta["val_layer"], minlength=nlay
                    ) if len(meta["val_layer"]) else np.zeros(nlay, dtype=np.int64)
                    gl_off = np.concatenate([[0], np.cumsum(all_counts)[:-1]])
                    vc = all_counts[cand]
                    local_off = np.concatenate([[0], np.cumsum(vc)[:-1]])
                    take = (
                        np.repeat(gl_off[cand], vc)
                        + np.arange(int(vc.sum()))
                        - np.repeat(local_off, vc)
                    )
                    all_vals = meta["values"][take]
                    shift = local_off[rep]
                    cols = {}
                    for j, k in enumerate(prop_keys):
                        idx = vidx_m[:, j].astype(np.int64) + shift
                        cols[k] = all_vals[idx] if len(all_vals) else np.array([], dtype=object)
                    frames.append(
                        pd.DataFrame(
                            {"z": tz.astype(np.int32), "x": tx, "y": ty,
                             "layer": names, "mx": mx, "my": my, **cols}
                        )
                    )
            if fallback_rows:
                frames.append(pd.DataFrame(fallback_rows, columns=fallback_cols))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return kernel
