"""Tile encode — shuffle-to-tile + batch kernel (SURVEY.md §2.10).

Replaces the reference's per-tile pull pipeline
(processor::create_tile -> layer_builder_pbf, src/vector_tile_processor.ipp
+ src/vector_tile_layer.ipp:84-126) with ONE encode core that every tile
lane (points, geometries, the salted hot lane, the single-layer
re-encode) runs through:

  * one batch driver (_batch_driver): a mapInPandas kernel over a
    key-sorted stream; tiles straddling Arrow batches carry into the
    next batch, and declared integer columns are coerced back from the
    float64 that Arrow->pandas makes of a nullable integer;
  * one segmenter (_segment) and one value dictionary (_value_dict):
    per-group first-seen dictionaries for a whole batch, type-qualified
    and deduplicated across columns on the encoded Value bytes, a null
    property being a dropped tag (vector_tile_layer.ipp:90-124);
  * one feature framer (_frame_features): every feature, points
    included, framed by pbf.encode_features_packed_ragged in one numpy
    pass, Feature.raster spliced in where rows carry one;
  * one tile assembler (_encode_layers, _frame_tile): per group, the
    constant layer prefix/suffix around two byte slices, then zlib;
    one eject merge (_merge_ejects) folds scalar-lane geometry features
    back into the batch in row order.

  COLD tiles: many tiles per Arrow batch through the core.

  HOT (skewed city-scale tiles — north rule): salted two-phase encode.
  Phase 1 packs each salt bucket of a hot tile in parallel tasks
  (per-occurrence dictionary slots = global index of the non-null
  property cell, so no cross-bucket dictionary merge); phase 2
  concatenates bucket blobs into the layer (pre-deflated segments
  joined into one zlib stream). prechunk_hot=True ships every bucket as
  its own tile through the cold core instead.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.functions import ragged as RG

TILE_SCHEMA = "z int, x long, y long, tile binary, n_features long, n_layers int, painted boolean"
TILE_COLS = ["z", "x", "y", "tile", "n_features", "n_layers", "painted"]
TILE_KEYS = ("z", "x", "y")
_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


# ---------------------------------------------------------------------------
# batch driver + segmenter
# ---------------------------------------------------------------------------

def _int_props(df: DataFrame, prop_cols: list[str]) -> list[str]:
    """Property columns declared integer: Arrow->pandas turns such a
    column with a null into float64, which would silently retype the
    Value variant (int 10 -> double 10.0)."""
    return [
        f.name for f in df.schema
        if f.name in prop_cols and f.dataType.simpleString() in _INT_TYPES
    ]


def _batch_driver(process, columns: list[str], keys=TILE_KEYS, int_props=()):
    """The mapInPandas kernel of every encode lane. The stream is sorted
    by `keys`; a group straddling Arrow batches carries into the next
    batch (a frame list, concatenated once at group close), so
    `process(pdf) -> list[tuple]` always sees whole groups. Declared
    integer columns come back from float64 as nullable Int64."""
    keys = list(keys)

    def coerce(pdf: pd.DataFrame) -> pd.DataFrame:
        fix = {c: pdf[c].astype("Int64") for c in int_props if pdf[c].dtype.kind == "f"}
        return pdf.assign(**fix) if fix else pdf

    def flush(frames):
        full = (
            frames[0].reset_index(drop=True) if len(frames) == 1
            else pd.concat(frames, ignore_index=True)
        )
        rows = process(full)
        return pd.DataFrame(rows, columns=columns) if rows else None

    def kernel(iterator):
        carry: list[pd.DataFrame] = []
        carry_key = None
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            pdf = coerce(pdf)
            kv = [pdf[k].to_numpy() for k in keys]
            if carry:
                same = np.logical_and.reduce([a == v for a, v in zip(kv, carry_key)])
                split = len(pdf) if same.all() else int(np.argmin(same))
                if split:
                    carry.append(pdf.iloc[:split])
                if split == len(pdf):
                    continue  # the whole batch belongs to the carried group
                out = flush(carry)
                if out is not None:
                    yield out
                pdf = pdf.iloc[split:]
                kv = [a[split:] for a in kv]
            carry_key = [a[-1] for a in kv]
            tail = np.logical_and.reduce([a == v for a, v in zip(kv, carry_key)])
            n_body = 0 if tail.all() else len(pdf) - int(tail[::-1].argmin())
            carry = [pdf.iloc[n_body:]]
            if n_body:
                out = flush([pdf.iloc[:n_body]])
                if out is not None:
                    yield out
        if carry:
            out = flush(carry)
            if out is not None:
                yield out

    return kernel


def _segment(pdf: pd.DataFrame, keys=TILE_KEYS):
    """Group ids over a key-sorted batch -> (gid (n,), group_start (G,))."""
    n = len(pdf)
    change = np.zeros(n, dtype=bool)
    if n:
        change[0] = True
    for k in keys:
        a = pdf[k].to_numpy()
        change[1:] |= a[1:] != a[:-1]
    return np.cumsum(change) - 1, np.flatnonzero(change)


# ---------------------------------------------------------------------------
# value dictionary (A1/A2)
# ---------------------------------------------------------------------------

def _value_field_bytes(v) -> bytes:
    enc = pbf.encode_value(v)
    head = bytearray()
    pbf.write_varint(head, pbf.tag(4, pbf.WT_LEN))
    pbf.write_varint(head, len(enc))
    return bytes(head) + enc


def _column_fields(s: pd.Series):
    """One property column -> (codes (n,) int64, -1 = null; the
    contiguous Layer.values field bytes of its distinct values, and
    their lengths). String columns stay in Arrow end to end."""
    if s.dtype == object:
        try:
            enc = pc.dictionary_encode(pa.array(s, type=pa.string(), from_pandas=True))
        except (pa.ArrowTypeError, pa.ArrowInvalid):
            enc = None
        if enc is not None:
            codes = enc.indices.fill_null(-1).to_numpy(zero_copy_only=False)
            buf, _off, lens = pbf.encode_string_value_fields(enc.dictionary)
            return codes.astype(np.int64), buf, lens
        # mixed Python values: pandas equates 1, 1.0 and True, so the
        # factorize key carries the Value type
        typed = pd.Series(
            [None if pd.isna(v) else (pbf.value_type_tag(v), v) for v in s],
            dtype=object,
        )
        codes, uniques = pd.factorize(typed, use_na_sentinel=True)
        values = [u[1] for u in uniques]
    else:
        codes, uniques = pd.factorize(s, use_na_sentinel=True)
        values = list(uniques)
    pieces = [_value_field_bytes(v) for v in values]
    lens = np.fromiter(map(len, pieces), dtype=np.int64, count=len(pieces))
    return codes.astype(np.int64), np.frombuffer(b"".join(pieces), dtype=np.uint8), lens


def _value_fields(pdf: pd.DataFrame, prop_cols: list[str]):
    """Every property cell's Value, deduplicated across columns on its
    encoded field bytes — the type-qualified identity of
    vector_tile_layer.hpp:36-69 (int 1, bool true and float 1.0 stay
    distinct; equal typed values share one entry whatever the column).

    Returns (vid (n, c) int64, -1 where the property is null, and the
    (buf, off, len) field bytes of each distinct value)."""
    n, c = len(pdf), len(prop_cols)
    vid = np.full((n, c), -1, dtype=np.int64)
    if c == 0:
        empty = np.empty(0, dtype=np.int64)
        return vid, np.empty(0, dtype=np.uint8), empty, empty
    bufs, lens = [], []
    base = 0
    for j, col in enumerate(prop_cols):
        codes, buf, ln = _column_fields(pdf[col])
        vid[:, j] = np.where(codes >= 0, codes + base, -1)
        bufs.append(buf)
        lens.append(ln)
        base += len(ln)
    ends = np.cumsum(np.concatenate(lens))
    fields = pa.Array.from_buffers(
        pa.large_binary(), base,
        [None, pa.py_buffer(np.concatenate([[0], ends]).astype(np.int64)),
         pa.py_buffer(np.concatenate(bufs))],
    )
    enc = pc.dictionary_encode(fields)
    valid = vid >= 0
    vid[valid] = enc.indices.to_numpy()[vid[valid]]
    d = enc.dictionary
    if len(d) == 0:  # every cell null
        return vid, np.empty(0, dtype=np.uint8), *([np.empty(0, dtype=np.int64)] * 2)
    doff = np.frombuffer(d.buffers()[1], dtype=np.int64)[d.offset : d.offset + len(d) + 1]
    data = d.buffers()[2]
    dbuf = np.frombuffer(data, dtype=np.uint8) if data is not None else np.empty(0, np.uint8)
    return vid, dbuf, doff[:-1], np.diff(doff)


def _tag_pairs(n: int, c: int, rows, cols, slots) -> np.ndarray:
    """(n, 2c) Feature.tags matrix: (key, value) index pairs of the
    non-null cells (rows, cols) — column order is key order — and -1
    where a null drops the pair."""
    tags = np.full((n, 2 * c), -1, dtype=np.int64)
    tags[rows, 2 * cols] = cols
    tags[rows, 2 * cols + 1] = slots
    return tags


def _value_dict(pdf: pd.DataFrame, prop_cols: list[str], gid: np.ndarray, n_groups: int):
    """Per-group first-seen value dictionaries for a whole sorted batch:
    insertion order is row-major, column-within-row, over non-null
    cells (layer_builder_pbf::add_feature, vector_tile_layer.ipp:84-126).

    Returns (tags (n, 2c) int64 — (key, value) index pairs, -1 where a
    null drops the pair; the values bytes of every group in order; and
    (G+1,) byte offsets: group g's Layer.values fields are
    values[off[g]:off[g+1]])."""
    vid, vbuf, voff, vlen = _value_fields(pdf, prop_cols)
    n, c = vid.shape
    rows, cols = np.nonzero(vid >= 0)  # row-major = insertion order
    ent_gid, ent_vid = gid[rows], vid[rows, cols]
    # stable: each (group, value) run starts at its first occurrence
    order = np.lexsort((ent_vid, ent_gid))
    sg, sv = ent_gid[order], ent_vid[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = (sg[1:] != sg[:-1]) | (sv[1:] != sv[:-1])
    ins = np.argsort(order[first], kind="stable")  # entries in insertion order
    dict_off = np.searchsorted(sg[first][ins], np.arange(n_groups + 1))
    rank = np.empty(len(ins), dtype=np.int64)
    rank[ins] = np.arange(len(ins))
    slot = rank - dict_off[sg[first]]
    ent_slot = np.empty(len(order), dtype=np.int64)
    ent_slot[order] = slot[np.cumsum(first) - 1]
    tags = _tag_pairs(n, c, rows, cols, ent_slot)
    values, val_off = pbf.ragged_gather(vbuf, voff, vlen, sv[first][ins])
    return tags, values.tobytes(), val_off[dict_off]


# ---------------------------------------------------------------------------
# feature framer + tile assembler
# ---------------------------------------------------------------------------

def _quantize_batch(pdf: pd.DataFrame, extent: int, buffer_px: int):
    """mercator (mx,my) -> per-row tile px ints + keep mask, vectorized
    across heterogeneous (z,x,y). std::round + hiRange guard (P2) and the
    transform_visitor buffered-envelope check (P4)."""
    z = pdf["z"].to_numpy(dtype=np.float64)
    x = pdf["x"].to_numpy(dtype=np.float64)
    y = pdf["y"].to_numpy(dtype=np.float64)
    mx = pdf["mx"].to_numpy(dtype=np.float64)
    my = pdf["my"].to_numpy(dtype=np.float64)
    ts = tilemath.EARTH_CIRCUMFERENCE / np.power(2.0, z)
    ox = -tilemath.HALF_OF_EQUATOR + x * ts
    oy = tilemath.HALF_OF_EQUATOR - y * ts  # top edge (y down)
    px = G.round_half_away((mx - ox) / ts * extent)
    py = G.round_half_away((oy - my) / ts * extent)
    ok = (
        (px > G.COORD_MIN) & (px < G.COORD_MAX) & (py > G.COORD_MIN) & (py < G.COORD_MAX)
        & (px >= -buffer_px) & (px <= extent + buffer_px)
        & (py >= -buffer_px) & (py <= extent + buffer_px)
    )
    return px.astype(np.int64), py.astype(np.int64), ok


def _point_features(rows: np.ndarray, px: np.ndarray, py: np.ndarray):
    """Point features of `rows` as (rows, gtypes, cmds, cmd counts): one
    MoveTo each, [9, zigzag(x), zigzag(y)]."""
    n = len(rows)
    cmds = np.column_stack([
        np.full(n, 9, dtype=np.uint64),
        Cmd.zigzag32(px).astype(np.uint64),
        Cmd.zigzag32(py).astype(np.uint64),
    ]).reshape(-1)
    return rows, np.full(n, Cmd.POINT, dtype=np.int64), cmds, np.full(n, 3, dtype=np.int64)


def _merge_ejects(feats, scalar: list[tuple]):
    """Vectorized features plus the scalar lane's [(row, gtype, cmds)]
    -> one feature set in row order (a collection row keeps its members
    in order)."""
    if not scalar:
        return feats
    rows, gtypes, cmds, clens = feats
    s_rows, s_gtypes, s_cmds = zip(*scalar)
    pieces = np.split(cmds, np.cumsum(clens)[:-1]) if len(clens) else []
    pieces += [np.asarray(c, dtype=np.uint64) for c in s_cmds]
    rows_all = np.concatenate([rows, np.asarray(s_rows, dtype=np.int64)])
    order = np.argsort(rows_all, kind="stable")
    cmd_list = [pieces[j] for j in order]
    return (
        rows_all[order],
        np.concatenate([gtypes, np.asarray(s_gtypes, dtype=np.int64)])[order],
        np.concatenate(cmd_list).astype(np.uint64),
        np.array([len(c) for c in cmd_list], dtype=np.int64),
    )


def _frame_features(feats, tags: np.ndarray, ids=None, rasters=None):
    """Layer.features frames of a batch in one numpy pass. feats =
    (rows, gtypes, cmds, cmd counts), rows nondecreasing; each feature
    takes its row's non-null tag pairs and id. Returns (blob, frame
    byte offsets (F+1,), frame rows (F,))."""
    rows, gtypes, cmds, clens = feats
    kt = tags[rows]
    km = kt >= 0
    blob, flens = pbf.encode_features_packed_ragged(
        gtypes, cmds, clens, kt[km], km.sum(axis=1),
        None if ids is None else ids[rows].astype(np.int64),
        return_lengths=True,
    )
    if rasters is not None:
        blob, flens, rows = _splice_raster_frames(blob, flens, feats, tags, ids, rasters)
    return blob, np.concatenate([[0], np.cumsum(flens)]).astype(np.int64), rows


def _splice_raster_frames(blob, flens, feats, tags, ids, rasters):
    """Weave Feature.raster bytes into the batch-framed blob: frames of
    raster-bearing rows are rebuilt by the scalar writer (field order
    id, tags, type, geometry, raster — matching encode_feature and the
    reference's raster_to_feature), raster-only rows (no surviving
    geometry) are inserted at their original row position as
    geometry-less UNKNOWN-type features. A collection row's raster
    attaches to its FIRST member feature only. Returns (blob, frame
    lengths, frame rows)."""
    feat_rows, gtypes, cmds, clens = feats
    frame_off = np.concatenate([[0], np.cumsum(flens)]).astype(np.int64)
    cmd_pieces = np.split(cmds, np.cumsum(clens)[:-1]) if len(clens) else []
    geom_rows = set(feat_rows.tolist())
    extra = [i for i, r in enumerate(rasters) if r is not None and i not in geom_rows]

    def raster_frame(row: int, gtype: int, geom) -> bytes:
        trow = tags[row]
        msg = pbf.encode_feature(
            int(ids[row]) if ids is not None else None,
            [int(t) for t in trow[trow >= 0]],
            gtype,
            [int(c) for c in geom],
            raster=bytes(rasters[row]),
        )
        framed = bytearray()
        pbf.add_len_field(framed, 2, msg)  # Layer.features framing
        return bytes(framed)

    pieces: list[bytes] = []
    out_rows: list[int] = []
    gi = ei = 0
    prev_row = -1
    while gi < len(feat_rows) or ei < len(extra):
        if gi >= len(feat_rows) or (ei < len(extra) and extra[ei] < int(feat_rows[gi])):
            pieces.append(raster_frame(extra[ei], 0, []))
            out_rows.append(extra[ei])
            ei += 1
            continue
        row = int(feat_rows[gi])
        if rasters[row] is not None and row != prev_row:
            pieces.append(raster_frame(row, int(gtypes[gi]), cmd_pieces[gi]))
        else:
            pieces.append(blob[frame_off[gi] : frame_off[gi + 1]])
        out_rows.append(row)
        prev_row = row
        gi += 1
    lens = np.fromiter(map(len, pieces), dtype=np.int64, count=len(pieces))
    return b"".join(pieces), lens, np.asarray(out_rows, dtype=np.int64)


def _layer_prefix_suffix(layer_name: str, keys: list[str], extent: int, version: int):
    """The constant layer pieces around a group's values and features:
    name + keys | extent + version (extent/version precede the features
    so the features region is a pure suffix of the layer)."""
    prefix = bytearray()
    pbf.add_len_field(prefix, 1, layer_name.encode("utf-8"))
    for k in keys:
        pbf.add_len_field(prefix, 3, k.encode("utf-8"))
    suffix = bytearray()
    pbf.add_varint_field(suffix, 5, extent)
    pbf.add_varint_field(suffix, 15, version)
    return bytes(prefix), bytes(suffix)


def _tile_head(layer_len: int) -> bytes:
    """Tile.layers (field 3) header of a layer of `layer_len` bytes."""
    head = bytearray()
    pbf.write_varint(head, pbf.tag(3, pbf.WT_LEN))
    pbf.write_varint(head, layer_len)
    return bytes(head)


def _frame_tile(layer: bytes, compress_tiles: bool) -> bytes:
    """One-layer tile, zlib'd when asked."""
    tile = _tile_head(len(layer)) + layer
    return Z.compress(tile) if compress_tiles else tile


def _encode_layers(pdf, gid, n_groups, prop_cols, feats, prefix, suffix,
                   ids=None, rasters=None) -> list[tuple[bytes, int]]:
    """The core for every group of a sorted batch: one value dictionary,
    one framer pass, then per group prefix + values + suffix + features
    (two byte slices). Returns (layer bytes, n features) per group, b""
    for a group with no feature."""
    tags, values, val_off = _value_dict(pdf, prop_cols, gid, n_groups)
    blob, frame_off, frame_rows = _frame_features(feats, tags, ids, rasters)
    bounds = np.searchsorted(gid[frame_rows], np.arange(n_groups + 1))
    out = []
    for g in range(n_groups):
        lo, hi = bounds[g], bounds[g + 1]
        if lo == hi:
            out.append((b"", 0))
            continue
        out.append((
            prefix + values[val_off[g] : val_off[g + 1]] + suffix
            + blob[frame_off[lo] : frame_off[hi]],
            int(hi - lo),
        ))
    return out


# ---------------------------------------------------------------------------
# geometry lane
# ---------------------------------------------------------------------------

def _scalar_geom_feature(geom, vt, clip_box, simplify_distance,
                          area_threshold, stats,
                          fill_type="even_odd", strictly_simple=False,
                          multi_polygon_union=False, process_all_rings=False):
    """One feature through the scalar pipeline (the eject lane):
    transform -> simplify -> clip -> encode. Returns a LIST of
    (gtype, cmds): a geometry collection expands into one entry per
    member — the reference writes each collection member as its own
    wire feature with the row's tags/id
    (vector_tile_geometry_feature.hpp:70-76 visitor recursion; the
    geometry encoder itself refuses collections,
    vector_tile_geometry_encoder_pbf.ipp:62-65)."""
    tg0 = G.transform_geom(geom, vt)
    if tg0[0] == "empty":
        return []
    bbox = G._geom_px_bbox(tg0)
    if simplify_distance > 0:
        tg0 = G.simplify_geom(tg0, simplify_distance)
        if tg0[0] == "empty":
            return []
    cx0, cy0, cx1, cy1 = clip_box
    inside = (
        bbox is not None
        and bbox[0] >= cx0 and bbox[1] >= cy0
        and bbox[2] <= cx1 and bbox[3] <= cy1
        and tg0[0] != "geometrycollection"
    )
    kw = dict(area_threshold=area_threshold, stats=stats,
              fill_type=fill_type, strictly_simple=strictly_simple,
              multi_polygon_union=multi_polygon_union,
              process_all_rings=process_all_rings)
    if inside:
        tg = G.clip_geom_inside(tg0, **kw)
    else:
        tg = G.clip_geom(tg0, clip_box, **kw)
    out: list[tuple] = []

    def emit(g):
        if g[0] == "geometrycollection":
            for m in g[1]:
                emit(m)
        elif g[0] != "empty":
            gtype, cmds = Cmd.encode_geometry(g)
            if gtype is not None:
                out.append((gtype, cmds))

    emit(tg)
    return out


def _encode_geom_groups(
    pdf: pd.DataFrame,
    gid: np.ndarray,
    tiles: tuple,
    layer_name: str,
    prop_cols: list[str],
    key_names: list[str] | None = None,
    extent: int = 4096,
    buffer_px: int = 0,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    version: int = 2,
    fill_type: str = "even_odd",
    strictly_simple: bool = False,
    multi_polygon_union: bool = False,
    process_all_rings: bool = False,
    ids: np.ndarray | None = None,
    rasters: list | None = None,
):
    """The batch geometry encoder: every group of a sorted batch (group
    g is the tile (tiles[0][g], tiles[1][g], tiles[2][g])) through ONE
    ragged kernel invocation over the `_gpk` column (functions/ragged.py,
    the fused vectorized twin of the reference's per-feature visitor
    chain, src/vector_tile_processor.ipp:82-174), then the encode core.
    Rare complex features (geometry collections, fill-resolver polygons)
    come back as ejects and run the scalar pipeline; with the
    non-default wagyu knobs (multi_polygon_union / process_all_rings,
    which the ragged lane does not model) every feature ejects.

    Returns ([(layer bytes, n features)] per group, fill-resolver budget
    overruns per group)."""
    gz, gx, gy = (np.asarray(t, dtype=np.int64) for t in tiles)
    n_groups = len(gz)
    minx, miny, maxx, maxy = tilemath.tile_mercator_bbox_np(gx, gy, gz)
    sx, sy = extent / (maxx - minx), extent / (maxy - miny)
    clip_box = tilemath.buffered_tile_px_box(extent, buffer_px)
    blobs = pdf["_gpk"].to_numpy()
    stats: dict = {}
    if multi_polygon_union or process_all_rings:
        feats = (np.empty(0, np.int64), np.empty(0, np.int64),
                 np.empty(0, np.uint64), np.empty(0, np.int64))
        ejects = range(len(pdf))
    else:
        # per-feature tile transforms: exact tile_mercator_bbox_np math,
        # bit-identical to the scalar lane's ViewTransform
        *feats, ejects = RG.encode_batch_gpack(
            blobs, (minx[gid], maxy[gid], sx[gid], sy[gid]), clip_box,
            simplify_distance, area_threshold, stats,
            force_resolve=strictly_simple,
        )
    scalar: list[tuple] = []
    for i in ejects:
        g = gid[i]
        vt = G.ViewTransform(float(minx[g]), float(miny[g]), float(maxx[g]),
                             float(maxy[g]), extent, extent)
        st: dict = {}
        for gtype, cmds in _scalar_geom_feature(
            G.gunpack(bytes(blobs[i])), vt, clip_box, simplify_distance,
            area_threshold, st, fill_type=fill_type,
            strictly_simple=strictly_simple,
            multi_polygon_union=multi_polygon_union,
            process_all_rings=process_all_rings,
        ):  # collections: one wire feature per member
            scalar.append((i, gtype, cmds))
        stats.setdefault("budget_exceeded_feats", []).extend(
            [i] * st.get("budget_exceeded", 0)
        )
    feats = _merge_ejects(tuple(feats), scalar)
    over = np.asarray(stats.get("budget_exceeded_feats", []), dtype=np.int64)
    unresolved = np.bincount(gid[over], minlength=n_groups)
    prefix, suffix = _layer_prefix_suffix(
        layer_name, key_names or prop_cols, extent, version
    )
    layers = _encode_layers(pdf, gid, n_groups, prop_cols, feats, prefix, suffix,
                            ids=ids, rasters=rasters)
    return layers, unresolved


def encode_geom_layer(
    pdf: pd.DataFrame,
    z: int,
    x: int,
    y: int,
    layer_name: str,
    prop_cols: list[str],
    extent: int = 4096,
    buffer_px: int = 0,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    id_col: str | None = None,
    version: int = 2,
    stats: dict | None = None,
    fill_type: str = "even_odd",
    strictly_simple: bool = False,
    multi_polygon_union: bool = False,
    process_all_rings: bool = False,
    key_names: list[str] | None = None,
    raster_col: str | None = None,
) -> tuple[bytes, int]:
    """One general-geometry layer: the batch geometry encoder applied to
    the single tile (z, x, y), its geometry the compact packed `_gpk`
    column (geometry.gpack). stats: optional dict accumulating fill-resolver
    budget_exceeded. raster_col: Feature.raster bytes per row (the
    re-encode merge path, raster_to_feature semantics —
    vector_tile_geometry_feature.hpp:23-34): raster-bearing rows keep
    their geometry AND raster; rows with raster but no surviving
    geometry are written as geometry-less raster features (type
    UNKNOWN), like the reference's raster features."""
    n = len(pdf)
    if n == 0:
        return b"", 0
    rasters = None
    if raster_col and raster_col in pdf.columns:
        rl = list(pdf[raster_col])
        if any(r is not None for r in rl):
            rasters = rl
    layers, unresolved = _encode_geom_groups(
        pdf, np.zeros(n, dtype=np.int64), ([z], [x], [y]), layer_name, prop_cols,
        key_names=key_names, extent=extent, buffer_px=buffer_px,
        simplify_distance=simplify_distance, area_threshold=area_threshold,
        version=version, fill_type=fill_type, strictly_simple=strictly_simple,
        multi_polygon_union=multi_polygon_union,
        process_all_rings=process_all_rings,
        ids=pdf[id_col].to_numpy() if id_col else None,
        rasters=rasters,
    )
    if stats is not None and unresolved[0]:
        stats["budget_exceeded"] = stats.get("budget_exceeded", 0) + int(unresolved[0])
    return layers[0]


# ---------------------------------------------------------------------------
# point lane
# ---------------------------------------------------------------------------

def _point_tile_rows(pdf, keys, prop_cols, prefix, suffix, extent, buffer_px,
                     compress_tiles, raster_col=None) -> list[tuple]:
    """Every group of a sorted batch of point rows -> one tile row each.
    Points outside the buffered tile are dropped before the dictionary
    is built, so a group with no surviving point writes no row."""
    px, py, ok = _quantize_batch(pdf, extent, buffer_px)
    pdf = pdf[ok].reset_index(drop=True)
    if len(pdf) == 0:
        return []
    gid, starts = _segment(pdf, keys)
    layers = _encode_layers(
        pdf, gid, len(starts), prop_cols,
        _point_features(np.arange(len(pdf)), px[ok], py[ok]), prefix, suffix,
        rasters=list(pdf[raster_col]) if raster_col else None,
    )
    zs, xs, ys = (pdf[k].to_numpy()[starts] for k in TILE_KEYS)
    return [
        (int(z), int(x), int(y), _frame_tile(layer, compress_tiles), nf, 1, True)
        for (layer, nf), z, x, y in zip(layers, zs, xs, ys)
    ]


def build_point_tiles(
    assigned: DataFrame,
    prop_cols: list[str],
    layer_name: str = "layer",
    extent: int = 4096,
    buffer_px: int = 0,
    id_col: str | None = None,
    raster_col: str | None = None,
    compress_tiles: bool = True,
    order_col: str | None = None,
    hot_threshold: int = 120_000,
    prechunk_hot: bool = False,
) -> DataFrame:
    """assigned: DataFrame with z,x,y + lon/lat + prop columns.
    One output row per tile: zlib'd Tile pbf + painted stats (A4).

    prechunk_hot=True stores each hot tile as MULTIPLE rows (one valid
    standalone tile per salt bucket) instead of one monolithic blob —
    the 100x-scale storage contract: no single row ever holds a
    city-hotspot tile, the salted path loses its only serial stage
    (per-tile concat + one zlib stream), and the decode side gets
    hot-tile parallelism for free (no explode_hot_tiles split pass).
    Decoded feature multiset is identical; sinks that need one blob per
    (z,x,y) merge rows via operators.composite.merge_tiles. Contract
    note (r6 advisor): a hot tile whose features are ALL clipped away
    emits ZERO rows in prechunk mode, whereas the monolithic path emits
    one empty tile row — sinks keyed on tile presence must not rely on
    empty hot tiles existing.

    Skew handling (north rule): tiles with more than ``hot_threshold``
    rows take the *salted* two-phase path — salt buckets of a hot tile
    pack their feature/value blobs in parallel tasks (per-occurrence
    dictionary slots need no cross-bucket coordination), and a per-tile
    second phase just concatenates bucket blobs into the layer. Cold
    tiles take the dense-dictionary single-phase core."""
    from mapnik_vector_tile_spark.operators.assign import _mercator_cols

    mx, my = _mercator_cols("lon", "lat")
    slim_cols = ["z", "x", "y", *prop_cols]
    if raster_col:
        slim_cols.append(raster_col)
    if order_col and order_col not in slim_cols:
        slim_cols.append(order_col)
    slim = assigned.withColumn("mx", mx).withColumn("my", my).select(*slim_cols, "mx", "my")
    sort_col = order_col or id_col
    int_props = _int_props(slim, prop_cols)
    prefix, suffix = _layer_prefix_suffix(layer_name, prop_cols, extent, 2)

    def point_kernel(keys):
        return _batch_driver(
            lambda pdf: _point_tile_rows(
                pdf, keys, prop_cols, prefix, suffix, extent, buffer_px,
                compress_tiles, raster_col,
            ),
            TILE_COLS, keys, int_props,
        )

    from pyspark.sql import functions as F

    npart = int(slim.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def cold_tiles(df: DataFrame) -> DataFrame:
        return (
            df.repartition(npart, *TILE_KEYS)
            .sortWithinPartitions(*TILE_KEYS, *([sort_col] if sort_col else []))
            .mapInPandas(point_kernel(TILE_KEYS), schema=TILE_SCHEMA)
        )

    if raster_col is not None or hot_threshold <= 0:
        return cold_tiles(slim)

    # hot/cold routing: map-side-combined counts identify skewed tiles;
    # the hot list is tiny and broadcasts. The routed projection feeds
    # three consumers (counts, cold branch, hot branch) — persist it so
    # the scan + location math run once (spills to disk at scale;
    # ContextCleaner reclaims it when the plan is GC'd).
    from pyspark import StorageLevel

    slim = slim.persist(StorageLevel.MEMORY_AND_DISK)
    # ONE eager counts pass (r7): the lazy form re-built this full
    # groupBy subtree under every broadcast that consumed it — the cold
    # anti-join, the hot semi-join AND the bucket-offset table each
    # re-aggregated the whole input (3 extra scans + 2 extra 695k-group
    # shuffles on the bench shape). The hot list is bounded by
    # n_rows / hot_threshold, so the checkpoint is tiny.
    hot_list_df = (
        slim.groupBy(*TILE_KEYS).agg(F.count("*").alias("_cnt"))
        .where(F.col("_cnt") > hot_threshold)
        .select(*TILE_KEYS)
        .localCheckpoint(eager=True)
    )
    if hot_list_df.isEmpty():
        # no skewed tile anywhere: the routing joins would be no-ops —
        # take the single clustered shuffle directly (the common case
        # for every query at oracle scale)
        return cold_tiles(slim)
    hot_list = F.broadcast(hot_list_df)
    cold = cold_tiles(slim.join(hot_list, list(TILE_KEYS), "left_anti"))
    hot = slim.join(hot_list, list(TILE_KEYS), "left_semi")
    hot_tiles = _build_hot_tiles(
        hot, prop_cols, prefix, suffix, extent, buffer_px, compress_tiles,
        npart, int_props, point_kernel, sort_col=sort_col, prechunk=prechunk_hot,
    )
    return cold.unionByName(hot_tiles)


def _build_hot_tiles(
    hot: DataFrame,
    prop_cols: list[str],
    prefix: bytes,
    suffix: bytes,
    extent: int,
    buffer_px: int,
    compress_tiles: bool,
    npart: int,
    int_props: list[str],
    point_kernel,
    sort_col: str | None = None,
    salt_buckets: int = 64,
    prechunk: bool = False,
) -> DataFrame:
    """Salted two-phase encode for skewed tiles (north rule).

    Salt = hash(sort key) % buckets, so even the bucket packing
    parallelizes — no single-task stage touches a whole hot tile except
    the final byte concat.

    Phase 1 (parallel over (z,x,y,salt), one batch-driver call per whole
    bucket): pack the bucket's features with per-occurrence dictionary
    slots (slot = bucket offset + index of the non-null property cell
    within the bucket, row-major — needs no cross-bucket dictionary
    merge; a null property is a dropped tag, as in the cold core;
    decoded properties are identical, the uncompressed layer is a little
    larger when values repeat) plus the bucket's values blob. Bucket
    offsets come from a tiny per-bucket table of non-null cell counts
    (broadcast).

    Phase 2 (per tile, #buckets rows): concatenate bucket blobs in salt
    order -> layer -> tile pbf -> zlib. Feature order = (salt, sort
    key): deterministic, though not globally sorted by the sort key.

    prechunk=True is the store-time pre-chunking mode: every salt
    bucket ships as its OWN standalone single-layer tile row through the
    cold core (its own first-seen dictionary), so phase 2 — the per-tile
    byte concat + single zlib stream, the only serial stage of this path
    — disappears entirely, and the decode side never sees a monolithic
    hot tile to split. Multiple rows per hot (z,x,y); decoded feature
    multiset identical to the monolithic tile.
    """
    from pyspark.sql import Window, functions as F

    keys = (*TILE_KEYS, "_salt")
    salt_src = sort_col if sort_col else "mx"
    hot = hot.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(salt_buckets)))

    def clustered(df: DataFrame) -> DataFrame:
        return df.repartition(npart, *keys).sortWithinPartitions(
            *keys, *([sort_col] if sort_col else ["mx"])
        )

    if prechunk:
        return clustered(hot).mapInPandas(point_kernel(keys), schema=TILE_SCHEMA)

    # bucket offsets: one narrow map-side-combined agg of the non-null
    # property cells + a window over the tiny per-bucket table (broadcast
    # back) — no window over the data itself
    def present(f):
        ok = F.col(f.name).isNotNull()
        if f.dataType.simpleString() in ("float", "double"):
            ok = ok & ~F.isnan(F.col(f.name))  # pandas reads NaN as null
        return ok.cast("long")

    cells = sum((present(f) for f in hot.schema if f.name in prop_cols), F.lit(0).cast("long"))
    bucket_cells = hot.groupBy(*keys).agg(F.sum(cells).alias("_bcells"))
    woff = Window.partitionBy(*TILE_KEYS).orderBy("_salt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_cells.withColumn(
        "_boff", F.coalesce(F.sum("_bcells").over(woff), F.lit(0))
    ).select(*keys, "_boff")
    hot = hot.join(F.broadcast(offsets), list(keys), "inner")
    c = len(prop_cols)

    # r7: with compression on, phase 1 ships DEFLATED segments plus
    # (uncompressed length, adler32) per blob, and phase 2 concatenates
    # segments and combines checksums into one valid zlib stream —
    # phase 2's single zlib pass over the whole hot layer (the salted
    # path's only serial stage) disappears, and the per-tile exchange
    # carries compressed bytes (~3x fewer). Decoded bytes identical;
    # the stored stream differs only in block boundaries.
    if compress_tiles:
        part_cols = ["z", "x", "y", "chunk", "n", "fseg", "vseg",
                     "fulen", "vulen", "fadler", "vadler"]
        part_schema = ("z int, x long, y long, chunk long, n long, fseg binary, "
                       "vseg binary, fulen long, vulen long, fadler long, vadler long")
    else:
        part_cols = ["z", "x", "y", "chunk", "n", "fblob", "vblob"]
        part_schema = "z int, x long, y long, chunk long, n long, fblob binary, vblob binary"

    def pack(pdf: pd.DataFrame) -> list[tuple]:
        gid, starts = _segment(pdf, keys)
        n_groups = len(starts)
        vid, vbuf, voff, vlen = _value_fields(pdf, prop_cols)
        rows, cols = np.nonzero(vid >= 0)  # row-major non-null cells
        # the values blob covers every (pre-mask) row, so global slot
        # positions stay aligned across buckets when the buffer mask
        # drops a feature
        cell_bounds = np.searchsorted(rows, np.append(starts, len(pdf)))
        tags = _tag_pairs(
            len(pdf), c, rows, cols,
            pdf["_boff"].to_numpy(np.int64)[rows]
            + np.arange(len(rows)) - cell_bounds[gid[rows]],
        )
        values, val_off = pbf.ragged_gather(vbuf, voff, vlen, vid[rows, cols])
        values = values.tobytes()
        px, py, ok = _quantize_batch(pdf, extent, buffer_px)
        blob, frame_off, frame_rows = _frame_features(
            _point_features(np.flatnonzero(ok), px[ok], py[ok]), tags
        )
        fb = np.searchsorted(gid[frame_rows], np.arange(n_groups + 1))
        zs, xs, ys, salts = (pdf[k].to_numpy()[starts] for k in keys)
        out = []
        for g in range(n_groups):
            fblob = blob[frame_off[fb[g]] : frame_off[fb[g + 1]]]
            vblob = values[val_off[cell_bounds[g]] : val_off[cell_bounds[g + 1]]]
            head = (int(zs[g]), int(xs[g]), int(ys[g]), int(salts[g]), int(fb[g + 1] - fb[g]))
            if compress_tiles:
                lf = 6 if len(fblob) < (4 << 20) else 1
                lv = 6 if len(vblob) < (4 << 20) else 1
                out.append(head + (
                    Z.deflate_segment(fblob, lf), Z.deflate_segment(vblob, lv),
                    len(fblob), len(vblob), zlib.adler32(fblob), zlib.adler32(vblob),
                ))
            else:
                out.append(head + (fblob, vblob))
        return out

    packed = clustered(hot).mapInPandas(
        _batch_driver(pack, part_cols, keys, int_props), schema=part_schema
    )

    def tile_row(key, pdf, tile) -> pd.DataFrame:
        n = int(pdf["n"].sum())
        return pd.DataFrame(
            [(int(key[0]), int(key[1]), int(key[2]), tile, n, 1 if n else 0, bool(n))],
            columns=TILE_COLS,
        )

    def assemble(key, pdf):
        pdf = pdf.sort_values("chunk", kind="mergesort")
        values = b"".join(bytes(b) for b in pdf["vblob"])
        feats = b"".join(bytes(b) for b in pdf["fblob"])
        return tile_row(key, pdf, _frame_tile(prefix + values + suffix + feats, False))

    def assemble_seg(key, pdf):
        """Concatenate pre-deflated bucket segments into one zlib
        stream: header + deflate(head+prefix) + value segments +
        deflate(suffix) + feature segments + final block + combined
        adler32. No pass over the uncompressed layer — the former
        single-stream deflate was the salted path's only serial stage."""
        import struct

        pdf = pdf.sort_values("chunk", kind="mergesort")
        layer_len = (
            len(prefix) + int(pdf["vulen"].sum())
            + len(suffix) + int(pdf["fulen"].sum())
        )
        lead = _tile_head(layer_len) + prefix
        pieces = [b"\x78\x9c", Z.deflate_segment(lead)]
        ad = zlib.adler32(lead)
        for seg, adl, ulen in zip(pdf["vseg"], pdf["vadler"], pdf["vulen"]):
            pieces.append(bytes(seg))
            ad = Z.adler32_combine(ad, int(adl), int(ulen))
        pieces.append(Z.deflate_segment(suffix))
        ad = zlib.adler32(suffix, ad)
        for seg, adl, ulen in zip(pdf["fseg"], pdf["fadler"], pdf["fulen"]):
            pieces.append(bytes(seg))
            ad = Z.adler32_combine(ad, int(adl), int(ulen))
        pieces.append(Z.deflate_stream_tail())
        pieces.append(struct.pack(">I", ad))
        return tile_row(key, pdf, b"".join(pieces))

    return packed.groupBy(*TILE_KEYS).applyInPandas(
        assemble_seg if compress_tiles else assemble, schema=TILE_SCHEMA
    )
