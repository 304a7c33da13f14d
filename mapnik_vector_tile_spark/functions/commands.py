"""Vector-tile geometry command streams (K5/K6/K7/K8).

Encode: src/vector_tile_geometry_encoder_pbf.ipp — MoveTo(1)/LineTo(2)/
ClosePath(7), (len<<3)|cmd headers, zigzag int32 deltas, consecutive
repeated points skipped, ring closing dup dropped, degenerate parts
(line <2 pts after dedup, ring <3) rejected with per-part rollback.

Decode: src/vector_tile_geometry_decoder.ipp — stateful cursor with the
full v1-lenient / v2-strict error matrix, zero-delta LineTo skipping,
ring winding classification (first ring defines exterior orientation,
v2 rejects CW first ring), negative-scale ring reversal.

Everything is numpy-vectorizable per feature; zigzag/delta math is
array ops.
"""

from __future__ import annotations

import math

import numpy as np

MOVE_TO, LINE_TO, CLOSE = 1, 2, 7
POINT, LINESTRING, POLYGON = 1, 2, 3


def zigzag32(d: np.ndarray) -> np.ndarray:
    d = np.asarray(d, dtype=np.int64).astype(np.int32)
    return ((d.astype(np.int64) << 1) ^ (d >> 31)).astype(np.uint32)


def unzigzag32(u: np.ndarray) -> np.ndarray:
    u = np.asarray(u, dtype=np.uint32)
    return ((u >> 1).astype(np.int32)) ^ (-(u & 1).astype(np.int32))


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------

def _zz32(d: int) -> int:
    """Exact int32-wrap zigzag for scalar paths."""
    d &= 0xFFFFFFFF
    if d >= 0x80000000:
        d -= 0x100000000
    return ((d << 1) ^ (d >> 31)) & 0xFFFFFFFF


def _emit_path(pts: np.ndarray, cursor: list[int], out: list[int], is_ring: bool) -> bool:
    """encode_linestring / encode_linearring
    (vector_tile_geometry_encoder_pbf.ipp:73-179)."""
    pts = np.asarray(pts, dtype=np.int64)
    n = len(pts)
    if n <= 12:  # fully-scalar small path: tiny tile features dominate
        rows = pts.tolist()
        kx, ky = [], []
        for x, y in rows:
            if not kx or x != kx[-1] or y != ky[-1]:
                kx.append(x)
                ky.append(y)
        if is_ring and len(kx) > 1 and kx[0] == kx[-1] and ky[0] == ky[-1]:
            kx.pop()
            ky.pop()
        if (is_ring and len(kx) < 3) or (not is_ring and len(kx) < 2) or not kx:
            return False
        out.append(9)  # MoveTo | 1<<3
        out.append(_zz32(kx[0] - cursor[0]))
        out.append(_zz32(ky[0] - cursor[1]))
        out.append(((len(kx) - 1) << 3) | LINE_TO)
        for i in range(1, len(kx)):
            out.append(_zz32(kx[i] - kx[i - 1]))
            out.append(_zz32(ky[i] - ky[i - 1]))
        if is_ring:
            out.append(15)  # ClosePath | 1<<3
        cursor[0], cursor[1] = kx[-1], ky[-1]
        return True
    # One canonicalization shared with the scalar path above: dedup
    # consecutive points FIRST, then strip a closing point equal to the
    # start. (The reference's encode_linearring declares line_to_length
    # from size-minus-repeats but can still emit an extra pair when the
    # closing vertex is doubled — a header/payload mismatch we do not
    # reproduce; we compare at decoded-semantic level.)
    keep = np.ones(n, dtype=bool)
    keep[1:] = (pts[1:] != pts[:-1]).any(axis=1)
    b = pts[keep]
    if is_ring and len(b) > 1 and b[0, 0] == b[-1, 0] and b[0, 1] == b[-1, 1]:
        b = b[:-1]
    if (is_ring and len(b) < 3) or (not is_ring and len(b) < 2):
        return False
    line_to_len = len(b) - 1
    d0 = b[0] - np.asarray(cursor, dtype=np.int64)
    zz = zigzag32(np.concatenate([d0[None, :], np.diff(b, axis=0)], axis=0))
    out.append(9)  # MoveTo | 1<<3
    out.append(int(zz[0, 0]))
    out.append(int(zz[0, 1]))
    out.append((line_to_len << 3) | LINE_TO)
    out.extend(zz[1:].reshape(-1).tolist())
    if is_ring:
        out.append(15)  # ClosePath | 1<<3
    cursor[0], cursor[1] = int(b[-1, 0]), int(b[-1, 1])
    return True


def encode_geometry(geom, cursor: list[int] | None = None):
    """-> (geom_type, [uint32 commands]) or (None, []) on failure.

    cursor carries (start_x, start_y) across features of a layer, like
    the encoder's int32& start_x/start_y threading."""
    if cursor is None:
        cursor = [0, 0]
    kind, val = geom
    out: list[int] = []
    if kind == "empty":
        return None, []
    if kind == "geometrycollection":
        # parity with encoder_visitor (vector_tile_geometry_encoder_pbf.ipp:62-65)
        raise ValueError(
            "Geometry collections can not be encoded as they may contain "
            "different geometry types"
        )
    if kind == "point":
        pts = np.asarray(val, dtype=np.int64).reshape(1, 2)
        out.append(9)
        out.append(int(zigzag32(np.array(pts[0, 0] - cursor[0]))))
        out.append(int(zigzag32(np.array(pts[0, 1] - cursor[1]))))
        cursor[0], cursor[1] = int(pts[0, 0]), int(pts[0, 1])
        return POINT, out
    if kind == "multipoint":
        pts = np.asarray(val, dtype=np.int64)
        if len(pts) == 0:
            return None, []
        out.append((len(pts) << 3) | MOVE_TO)
        seq = np.concatenate([np.asarray(cursor, dtype=np.int64)[None, :], pts], axis=0)
        out.extend(zigzag32(np.diff(seq, axis=0)).reshape(-1).tolist())
        cursor[0], cursor[1] = int(pts[-1, 0]), int(pts[-1, 1])
        return POINT, out
    if kind == "linestring":
        ok = _emit_path(val, cursor, out, is_ring=False)
        return (LINESTRING, out) if ok else (None, [])
    if kind == "multilinestring":
        any_ok = False
        for line in val:
            saved = list(out)
            saved_cur = list(cursor)
            if _emit_path(line, cursor, out, is_ring=False):
                any_ok = True
            else:  # rollback (geometry_feature.hpp:46-68 analogue)
                out[:] = saved
                cursor[0], cursor[1] = saved_cur
        return (LINESTRING, out) if any_ok else (None, [])
    if kind == "polygon":
        # first ring must encode, others best-effort (encoder_pbf.ipp:156-179)
        if not val:
            return None, []
        if not _emit_path(val[0], cursor, out, is_ring=True):
            return None, []
        for ring in val[1:]:
            saved = list(out)
            saved_cur = list(cursor)
            if not _emit_path(ring, cursor, out, is_ring=True):
                out[:] = saved
                cursor[0], cursor[1] = saved_cur
        return POLYGON, out
    if kind == "multipolygon":
        any_ok = False
        for poly in val:
            if not poly:
                continue
            saved = list(out)
            saved_cur = list(cursor)
            if _emit_path(poly[0], cursor, out, is_ring=True):
                any_ok = True
                for ring in poly[1:]:
                    saved2 = list(out)
                    saved_cur2 = list(cursor)
                    if not _emit_path(ring, cursor, out, is_ring=True):
                        out[:] = saved2
                        cursor[0], cursor[1] = saved_cur2
            else:
                out[:] = saved
                cursor[0], cursor[1] = saved_cur
        return (POLYGON, out) if any_ok else (None, [])
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# Decode — cursor (GeometryPBF, decoder.ipp:570-788)
# ---------------------------------------------------------------------------

class DecodeError(RuntimeError):
    pass


class _Cursor:
    __slots__ = ("g", "i", "n", "x", "y", "ox", "oy", "length", "cmd")

    def __init__(self, commands):
        self.g = [int(c) & 0xFFFFFFFF for c in commands]
        self.i = 0
        self.n = len(self.g)
        self.x = self.y = self.ox = self.oy = 0
        self.length = 0
        self.cmd = MOVE_TO

    def _take_delta(self):
        if self.i + 1 >= self.n + 1 and self.i >= self.n:
            raise DecodeError("end of buffer exception")
        try:
            # pure-int zigzag (uint32 domain): numpy scalar ufuncs cost
            # ~8 us/value, which dominated dense small-feature tiles
            u = self.g[self.i] & 0xFFFFFFFF
            v = self.g[self.i + 1] & 0xFFFFFFFF
        except IndexError as exc:
            raise DecodeError("end of buffer exception") from exc
        self.i += 2
        return (u >> 1) ^ -(u & 1), (v >> 1) ^ -(v & 1)

    def point_next(self):
        if self.length == 0:
            if self.i < self.n:
                cl = self.g[self.i]
                self.i += 1
                self.cmd = cl & 0x7
                self.length = cl >> 3
                if self.cmd == MOVE_TO:
                    if self.length == 0:
                        raise DecodeError(
                            "POINT geometry with a MOVETO command count of zero"
                        )
                elif self.cmd == LINE_TO:
                    raise DecodeError("POINT geometry with a LINETO command")
                elif self.cmd == CLOSE:
                    raise DecodeError("POINT geometry with a CLOSE command")
                else:
                    raise DecodeError("POINT geometry with an unknown command")
            else:
                return "end", 0, 0
        self.length -= 1
        dx, dy = self._take_delta()
        self.x += dx
        self.y += dy
        return "move_to", self.x, self.y

    def line_next(self, skip_zero):
        if self.length == 0:
            if self.i < self.n:
                cl = self.g[self.i]
                self.i += 1
                self.cmd = cl & 0x7
                self.length = cl >> 3
                if self.cmd == MOVE_TO:
                    if self.length != 1:
                        raise DecodeError("LINESTRING MOVETO with bad parameter count")
                    self.length -= 1
                    dx, dy = self._take_delta()
                    self.x += dx
                    self.y += dy
                    return "move_to", self.x, self.y
                elif self.cmd == LINE_TO:
                    if self.length == 0:
                        raise DecodeError("LINETO with no parameters")
                elif self.cmd == CLOSE:
                    raise DecodeError("LINESTRING geometry with a CLOSE command")
                else:
                    raise DecodeError("LINESTRING geometry with an unknown command")
            else:
                return "end", 0, 0
        self.length -= 1
        dx, dy = self._take_delta()
        if skip_zero and dx == 0 and dy == 0:
            return self.line_next(True)
        self.x += dx
        self.y += dy
        return "line_to", self.x, self.y

    def ring_next(self, skip_zero):
        if self.length == 0:
            if self.i < self.n:
                cl = self.g[self.i]
                self.i += 1
                self.cmd = cl & 0x7
                self.length = cl >> 3
                if self.cmd == MOVE_TO:
                    if self.length != 1:
                        raise DecodeError("POLYGON MOVETO with bad parameter count")
                    self.length -= 1
                    dx, dy = self._take_delta()
                    self.x += dx
                    self.y += dy
                    self.ox, self.oy = self.x, self.y
                    return "move_to", self.x, self.y
                elif self.cmd == LINE_TO:
                    if self.length == 0:
                        raise DecodeError("LINETO with no parameters")
                elif self.cmd == CLOSE:
                    self.length = 0
                    return "close", self.ox, self.oy
                else:
                    raise DecodeError("POLYGON geometry with an unknown command")
            else:
                return "end", 0, 0
        self.length -= 1
        dx, dy = self._take_delta()
        if skip_zero and dx == 0 and dy == 0:
            return self.ring_next(True)
        self.x += dx
        self.y += dy
        return "line_to", self.x, self.y


def _scale_pt(x, y, tile_x, tile_y, scale_x, scale_y):
    return tile_x + x / scale_x, tile_y + y / scale_y


_scale_pt_active = None  # set per decode_geometry call


def _scale_pt_int(x, y, tile_x, tile_y, scale_x, scale_y):
    """int64 decode specialization (decoder.ipp:49-56): per-coordinate
    std::round of val/scale, added to the integer tile origin."""
    def r(v):
        return math.floor(abs(v) + 0.5) * (1 if v >= 0 else -1)

    return tile_x + r(x / scale_x), tile_y + r(y / scale_y)


# decode assembly (decoder.ipp:74-566)

def decode_geometry(
    commands,
    geom_type: int,
    version: int = 2,
    tile_x: float = 0.0,
    tile_y: float = 0.0,
    scale_x: float = 1.0,
    scale_y: float = 1.0,
    bbox=None,
    value_type: str = "double",
):
    """-> geometry in decoded space (("kind", arrays)); raises DecodeError
    per the v1/v2 matrix. bbox (minx,miny,maxx,maxy) filters parts like
    the decoder's part-level envelope check. value_type="int64" applies
    the integer decode rounding (get_point_value<int64>, decoder.ipp:49-56)."""
    global _scale_pt_active
    _scale_pt_active = _scale_pt_int if value_type == "int64" else _scale_pt
    cur = _Cursor(commands)
    if geom_type == POINT:
        return _decode_point(cur, tile_x, tile_y, scale_x, scale_y, bbox)
    if geom_type == LINESTRING:
        return _decode_linestring(cur, tile_x, tile_y, scale_x, scale_y, bbox, version)
    if geom_type == POLYGON:
        return _decode_polygon(cur, tile_x, tile_y, scale_x, scale_y, bbox, version)
    return ("empty", None)  # UNKNOWN ignored (decoder.ipp:826-833)


def decode_geometry_vec(
    commands,
    geom_type: int,
    version: int = 2,
    tile_x: float = 0.0,
    tile_y: float = 0.0,
    scale_x: float = 1.0,
    scale_y: float = 1.0,
    bbox=None,
    value_type: str = "double",
    packed: bool = False,
):
    """Vectorized decode for CANONICAL command streams — the shapes every
    conformant encoder emits (POINT: MoveTo blocks only; LINESTRING:
    [MoveTo(1), LineTo(k>=1)+]*; POLYGON: [MoveTo(1), LineTo(k>=2)+,
    Close]*). Cost is O(#command headers) Python + O(#points) numpy:
    one unzigzag + cumsum replaces the per-point cursor walk, which is
    what the reference's decode bench actually measures (its z14 anchor
    tile is 34 multipoints totalling ~676k points, bench/readme.md).

    Returns None to DECLINE — any structural deviation, degenerate part
    (all-zero LineTo runs), or coordinate overflow — and the caller
    replays through decode_geometry's exact per-point state machine, so
    the full v1/v2 error matrix and leniency behavior stay bit-identical.
    Raises the same first-ring-clockwise DecodeError as the scalar path
    (the only error reachable from a canonical stream).

    The decode builds one flat form — xs, ys and part offsets (plus the
    exterior flag per polygon ring) — with NO per-part Python objects.
    packed=True returns it as ("packed", {kind, xs, ys, offsets[,
    exterior]}): the scale form the packed and gpack scans carry, which
    maps 1:1 onto Arrow list columns. The default returns the part-list
    geom tuple derived from it (`_parts_from_flat`)."""
    g = np.asarray(commands, dtype=np.uint64)
    n = len(g)
    if n == 0 or geom_type not in (POINT, LINESTRING, POLYGON):
        return None

    # --- header walk: Python per UNIQUE block shape, vectorized over
    # periodic runs (real tiles repeat one header pattern — e.g. the
    # reference's multi_line bench tile is 168k (MoveTo(1), LineTo(1))
    # pairs — so the walk closes whole runs with one strided compare) ---
    seg_cmd: list[np.ndarray] = []
    seg_cnt: list[np.ndarray] = []
    seg_vst: list[np.ndarray] = []
    p = 0
    while p < n:
        # probe up to 3 consecutive headers from p
        probe = []  # (pos, header, cmd, count, next_pos)
        q = p
        for _ in range(3):
            if q >= n:
                break
            h = int(g[q])
            c = h & 7
            k = h >> 3
            if c == MOVE_TO or c == LINE_TO:
                if k == 0:
                    return None
                nq = q + 1 + 2 * k
            elif c == CLOSE:
                nq = q + 1
            else:
                return None
            if nq > n:
                return None
            probe.append((q, h, c, k, nq))
            q = nq
        run = None
        for L in (1, 2, 3):
            if len(probe) < L:
                break
            period = probe[L - 1][4] - p
            max_r = (n - p) // period
            if max_r < 8:
                continue
            reps = max_r
            for j in range(L):
                lane = g[probe[j][0] : probe[j][0] + period * max_r : period]
                neq = np.flatnonzero(lane != probe[j][1])
                if len(neq):
                    reps = min(reps, int(neq[0]))
            if reps >= 8:
                run = (L, period, reps)
                break
        if run:
            L, period, reps = run
            lane_off = np.asarray([probe[j][0] - p + 1 for j in range(L)], dtype=np.int64)
            cmd_pat = np.asarray([probe[j][2] for j in range(L)], dtype=np.int64)
            cnt_pat = np.asarray([probe[j][3] for j in range(L)], dtype=np.int64)
            rep_idx = np.repeat(np.arange(reps, dtype=np.int64), L)
            seg_cmd.append(np.tile(cmd_pat, reps))
            seg_cnt.append(np.tile(cnt_pat, reps))
            seg_vst.append(p + rep_idx * period + np.tile(lane_off, reps))
            p += period * reps
        else:
            q0, _h, c, k, nq = probe[0]
            seg_cmd.append(np.asarray([c], dtype=np.int64))
            seg_cnt.append(np.asarray([k], dtype=np.int64))
            seg_vst.append(np.asarray([q0 + 1], dtype=np.int64))
            p = nq
    cmds = np.concatenate(seg_cmd) if len(seg_cmd) > 1 else seg_cmd[0]
    cnts = np.concatenate(seg_cnt) if len(seg_cnt) > 1 else seg_cnt[0]
    vstarts = np.concatenate(seg_vst) if len(seg_vst) > 1 else seg_vst[0]

    # --- canonical structure checks (vectorized) ---
    is_mt = cmds == MOVE_TO
    is_lt = cmds == LINE_TO
    is_cl = cmds == CLOSE
    if geom_type == POINT:
        if not is_mt.all():
            return None
    elif geom_type == LINESTRING:
        if is_cl.any() or not is_mt[0] or (cnts[is_mt] != 1).any():
            return None
        if version != 1:
            # v2 forbids a MoveTo with no LineTo following (repeated
            # MOVETO / trailing MOVETO raise in the scalar walk)
            if is_mt[-1] or (is_mt[:-1] & is_mt[1:]).any():
                return None
    else:  # POLYGON: strict (MT(1), LT+, CLOSE)* grouping
        if not is_mt[0] or not is_cl[-1] or (cnts[is_mt] != 1).any():
            return None
        if (is_mt[:-1] & ~is_lt[1:]).any():
            return None  # MOVETO without LINETO
        if (is_lt[:-1] & is_mt[1:]).any():
            return None  # ring not closed by CLOSE
        if (is_cl[:-1] & ~is_mt[1:]).any():
            return None  # CLOSE followed by CLOSE / LINETO

    # --- gather all deltas in visit order; cumsum -> raw int coords ---
    m = ~is_cl
    sp_start = vstarts[m]
    sp_npts = cnts[m]
    sp_cmd = cmds[m]
    nvals = sp_npts * 2
    tot = int(nvals.sum())
    if tot == 0:
        return None
    if len(sp_start) == 1:  # one block (multipoint / single long line)
        vals = g[sp_start[0] : sp_start[0] + tot]
    else:
        # the header walk tiles the whole stream, so the deltas are
        # exactly the non-header positions, in order
        hdr = np.zeros(n, dtype=bool)
        hdr[vstarts - 1] = True
        vals = g[~hdr]
    v64 = vals.astype(np.int64)
    deltas = ((v64 >> 1) ^ -(v64 & 1)).reshape(-1, 2)  # fused unzigzag32
    pts = np.cumsum(deltas, axis=0)
    if len(pts) and np.abs(pts).max() > (1 << 25):
        return None  # keep the int area math exact; scalar handles extremes

    per_pt_cmd = np.repeat(sp_cmd, sp_npts)
    part_id = np.repeat(np.arange(len(sp_cmd), dtype=np.int64), sp_npts)
    # part index per MoveTo group (polygon ring / line id): cumsum of MTs
    is_mt_blk = sp_cmd == MOVE_TO
    grp_of_blk = np.cumsum(is_mt_blk) - 1
    grp = grp_of_blk[part_id] if geom_type != POINT else part_id

    def merc(p):  # px -> decoded space, as _scale_pt / _scale_pt_int
        if value_type == "int64":
            return (tile_x + _round_half_away(p[:, 0] / scale_x),
                    tile_y + _round_half_away(p[:, 1] / scale_y))
        return tile_x + p[:, 0] / scale_x, tile_y + p[:, 1] / scale_y

    if geom_type == POINT:
        X, Y = merc(pts)
        if bbox is not None:
            m = (bbox[0] <= X) & (X <= bbox[2]) & (bbox[1] <= Y) & (Y <= bbox[3])
            X, Y = X[m], Y[m]
        if len(X) == 0:
            return ("empty", None)
        flat = {
            "kind": "multipoint",
            "xs": X.astype(np.float64), "ys": Y.astype(np.float64),
            "offsets": np.array([0, len(X)], dtype=np.int64),
        }
        return ("packed", flat) if packed else _parts_from_flat(flat)

    # skip-zero: zero LineTo deltas never append a vertex (line_next /
    # ring_next with skip_zero=True); MoveTo deltas always do
    zero = (deltas[:, 0] == 0) & (deltas[:, 1] == 0) & (per_pt_cmd == LINE_TO)
    keep = ~zero
    kpts = pts[keep]
    kgrp = grp[keep]
    kcmd = per_pt_cmd[keep]
    ngroups = int(grp_of_blk[-1]) + 1
    counts = np.bincount(kgrp, minlength=ngroups)
    mt_counts = np.bincount(kgrp[kcmd == MOVE_TO], minlength=ngroups)
    lt_counts = counts - mt_counts
    min_lt = 1 if geom_type == LINESTRING else 2
    bad_grp = (mt_counts != 1) | (lt_counts < min_lt)
    if bad_grp.any():
        if version != 1:
            return None  # v2: scalar replays the exact error
        # v1 leniency (line_next/ring_next "move_to"/"close" resets): a
        # part whose LineTos all collapsed is silently dropped; its
        # deltas already advanced the shared cursor via the cumsum, so
        # dropping the points here reproduces the scalar walk exactly
        dm = ~bad_grp[kgrp]
        kpts, kgrp, kcmd = kpts[dm], kgrp[dm], kcmd[dm]
        counts = np.bincount(kgrp, minlength=ngroups)

    X, Y = merc(kpts)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]]).astype(np.int64)

    if geom_type == LINESTRING:
        gi_keep = np.flatnonzero(counts >= 2)
        if bbox is not None and len(gi_keep):
            st = starts[gi_keep]
            mnx = np.minimum.reduceat(X, st)
            mxx = np.maximum.reduceat(X, st)
            mny = np.minimum.reduceat(Y, st)
            mxy = np.maximum.reduceat(Y, st)
            inb = ~((mxx < bbox[0]) | (mnx > bbox[2])
                    | (mxy < bbox[1]) | (mny > bbox[3]))
            gi_keep = gi_keep[inb]
        if len(gi_keep) == 0:
            return ("empty", None)
        lens = counts[gi_keep]
        if len(gi_keep) == ngroups and int(lens.sum()) == len(X):
            xs, ys = X, Y  # nothing dropped: already contiguous
        else:
            base = np.repeat(starts[gi_keep], lens)
            idx = base + (np.arange(int(lens.sum()), dtype=np.int64)
                          - np.repeat(np.cumsum(lens) - lens, lens))
            xs, ys = X[idx], Y[idx]
        flat = {
            "kind": "multilinestring",
            "xs": xs.astype(np.float64), "ys": ys.astype(np.float64),
            "offsets": np.concatenate([[0], np.cumsum(lens)]).astype(np.int64),
        }
        return ("packed", flat) if packed else _parts_from_flat(flat)

    # POLYGON — per-ring int shoelace (exact: |coord| <= 2^25), closing
    # points inserted in ONE global scatter
    cross = kpts[:-1, 0] * kpts[1:, 1] - kpts[:-1, 1] * kpts[1:, 0]
    same = kgrp[:-1] == kgrp[1:]
    areas = np.bincount(kgrp[:-1][same], weights=cross[same].astype(np.float64),
                        minlength=ngroups).astype(np.float64)

    gi_all = np.flatnonzero(counts > 0)
    a_arr = starts[gi_all]
    b_arr = a_arr + counts[gi_all]
    need = (X[a_arr] != X[b_arr - 1]) | (Y[a_arr] != Y[b_arr - 1])
    areas = areas[gi_all]
    areas[need] += (
        kpts[b_arr - 1, 0] * kpts[a_arr, 1] - kpts[b_arr - 1, 1] * kpts[a_arr, 0]
    )[need].astype(np.float64)
    out_len = counts[gi_all] + need
    out_starts = np.concatenate([[0], np.cumsum(out_len)[:-1]]).astype(np.int64)
    OUT = np.empty((int(out_len.sum()), 2), dtype=np.float64)
    # ordinal ring index per kept point -> shifted destination
    ord_of_grp = np.full(ngroups, -1, dtype=np.int64)
    ord_of_grp[gi_all] = np.arange(len(gi_all))
    shift = np.concatenate([[0], np.cumsum(need)[:-1]]).astype(np.int64)
    dest = np.arange(len(X), dtype=np.int64) + shift[ord_of_grp[kgrp]]
    OUT[dest, 0] = X
    OUT[dest, 1] = Y
    closers = np.flatnonzero(need)
    OUT[(out_starts + out_len - 1)[closers], 0] = X[a_arr[closers]]
    OUT[(out_starts + out_len - 1)[closers], 1] = Y[a_arr[closers]]

    # ring classification (decoder.ipp:473-566): rings of <= 3 points
    # are skipped; the first kept ring fixes the exterior winding (v2
    # rejects it clockwise); an interior ring is kept only when it is in
    # the box and the nearest preceding exterior was kept
    valid = out_len > 3
    vi = np.flatnonzero(valid)
    if len(vi) == 0:
        return ("empty", None)
    cw = areas < 0.0
    first_cw = bool(cw[vi[0]])
    if version != 1 and first_cw:
        raise DecodeError("POLYGON first ring clockwise (invalid in v2)")
    ext = (cw == first_cw) & valid
    if bbox is not None:
        mnx = np.minimum.reduceat(OUT[:, 0], out_starts)
        mxx = np.maximum.reduceat(OUT[:, 0], out_starts)
        mny = np.minimum.reduceat(OUT[:, 1], out_starts)
        mxy = np.maximum.reduceat(OUT[:, 1], out_starts)
        in_box = ~((mxx < bbox[0]) | (mnx > bbox[2])
                   | (mxy < bbox[1]) | (mny > bbox[3]))
    else:
        in_box = np.ones(len(gi_all), dtype=bool)
    ext_kept = ext & in_box
    # owner = ordinal of the nearest preceding exterior (the first valid
    # ring is an exterior, so every valid interior has one)
    owner = np.maximum(np.cumsum(ext) - 1, 0)
    keep_r = valid & np.where(ext, ext_kept, in_box & ext_kept[np.flatnonzero(ext)][owner])
    ri = np.flatnonzero(keep_r)
    if len(ri) == 0:
        return ("empty", None)
    lens = out_len[ri]
    reverse_rings = ((scale_x * scale_y) < 0) != first_cw
    pos_in = np.arange(int(lens.sum()), dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)
    if reverse_rings:
        idx = np.repeat(out_starts[ri] + lens - 1, lens) - pos_in
    else:
        idx = np.repeat(out_starts[ri], lens) + pos_in
    flat = {
        "kind": "multipolygon",
        "xs": OUT[idx, 0], "ys": OUT[idx, 1],
        "offsets": np.concatenate([[0], np.cumsum(lens)]).astype(np.int64),
        "exterior": ext[ri],
    }
    return ("packed", flat) if packed else _parts_from_flat(flat)


def _parts_from_flat(flat: dict) -> tuple:
    """Flat decode form -> the part-list geom tuple: parts are VIEWS
    into one (N,2) array, so a 168k-part feature (the reference's
    multi_line bench tile) costs one column_stack plus slice handles;
    polygon rings group under the exterior that precedes them."""
    xy = np.column_stack([flat["xs"], flat["ys"]])
    kind = flat["kind"]
    if kind == "multipoint":
        return ("point", xy[0]) if len(xy) == 1 else ("multipoint", xy)
    offs = flat["offsets"].tolist()
    parts = [xy[a:b] for a, b in zip(offs, offs[1:])]
    if kind == "multilinestring":
        return ("linestring", parts[0]) if len(parts) == 1 else ("multilinestring", parts)
    polys: list[list[np.ndarray]] = []
    for ring, is_ext in zip(parts, flat["exterior"].tolist()):
        if is_ext:
            polys.append([ring])
        else:
            polys[-1].append(ring)
    return ("polygon", polys[0]) if len(polys) == 1 else ("multipolygon", polys)


def _round_half_away(v: np.ndarray) -> np.ndarray:
    """Vector twin of _scale_pt_int's std::round (half away from zero)."""
    return np.floor(np.abs(v) + 0.5) * np.where(v >= 0, 1.0, -1.0)


def decode_geometry_vec_batch(
    geoms: list,
    gtypes,
    version: int = 2,
    tile_x: float = 0.0,
    tile_y: float = 0.0,
    scale_x: float = 1.0,
    scale_y: float = 1.0,
    bbox=None,
    segmented: bool = False,
):
    """Batch twin of decode_geometry_vec for MANY (typically small)
    features: the per-point work — unzigzag, cursor cumsum, scaling,
    shoelace — runs ONCE over every feature's deltas concatenated, with
    per-feature cursor resets expressed as a segmented cumsum. This is
    the decode mirror of the ragged encode kernel: a z14 buildings tile
    (6,800 four-vertex polygons) pays ~3 Python header reads per
    feature instead of ~16 per-point cursor steps.

    Returns a list with one entry per feature: a geom tuple, or None
    meaning "decode this feature through decode_geometry_vec /
    decode_geometry individually" (non-canonical structure, v2
    degeneracy, overflow — the per-feature paths own the exact error
    matrix). Raises nothing itself.

    segmented=True returns (out, seg) and LINESTRING/POLYGON features
    stay in FLAT arrays instead of per-feature tuples: out[fi] is the
    marker string "seg" and seg[gtype] holds
    {coords (n,2) float64 (winding reversal already applied),
     ring_len, ring_feat[, exterior]} with rings feature-major in
    decode order. This skips ALL per-feature list/ndarray assembly —
    the WKT writer and the packed scan consume the arrays directly."""
    n_feats = len(geoms)
    out: list = [None] * n_feats
    seg: dict | None = {} if segmented else None
    if n_feats == 0:
        return (out, seg) if segmented else out
    gtypes = np.asarray(gtypes, dtype=np.int64)

    # --- global header walk (Python over HEADERS only; values are
    # appended as whole arrays, never element-wise) ---
    val_parts: list[np.ndarray] = []
    b_cmd: list[int] = []
    b_cnt: list[int] = []
    b_vst: list[int] = []          # global index into the value stream
    b_feat: list[int] = []
    feat_ok = np.zeros(n_feats, dtype=bool)
    base = 0
    for fi in range(n_feats):
        g = geoms[fi]
        gt = int(gtypes[fi])
        m = len(g)
        if m == 0 or m >= 512 or gt not in (POINT, LINESTRING, POLYGON):
            # big features decline: decode_geometry_vec's periodic-run
            # header walk beats this per-header loop there
            continue
        p = 0
        ok = True
        start_blk = len(b_cmd)
        while p < m:
            h = int(g[p]) & 0xFFFFFFFF
            c = h & 7
            k = h >> 3
            if c == MOVE_TO or c == LINE_TO:
                if k == 0 or p + 1 + 2 * k > m:
                    ok = False
                    break
                b_cmd.append(c)
                b_cnt.append(k)
                b_vst.append(base + p + 1)
                b_feat.append(fi)
                p += 1 + 2 * k
            elif c == CLOSE:
                b_cmd.append(CLOSE)
                b_cnt.append(0)
                b_vst.append(base + p + 1)
                b_feat.append(fi)
                p += 1
            else:
                ok = False
                break
        if not ok:
            del b_cmd[start_blk:], b_cnt[start_blk:], b_vst[start_blk:], b_feat[start_blk:]
            continue
        feat_ok[fi] = True
        val_parts.append(np.asarray(g, dtype=np.uint64))
        base += m
    if not b_cmd:
        return (out, seg) if segmented else out
    # features that failed the walk contributed no values: b_vst already
    # indexes the compacted value stream
    G_all = np.concatenate(val_parts).astype(np.uint32)
    cmds = np.asarray(b_cmd, dtype=np.int64)
    cnts = np.asarray(b_cnt, dtype=np.int64)
    vstarts = np.asarray(b_vst, dtype=np.int64)
    bfeat = np.asarray(b_feat, dtype=np.int64)
    return _batch_decode_core(
        out, seg, segmented, G_all, cmds, cnts, vstarts, bfeat, feat_ok,
        gtypes, version, tile_x, tile_y, scale_x, scale_y, bbox,
    )


def decode_geometry_vec_batch_global(
    geom_vals,
    geom_off,
    gtypes,
    version: int = 2,
    tile_x: float = 0.0,
    tile_y: float = 0.0,
    scale_x: float = 1.0,
    scale_y: float = 1.0,
    bbox=None,
    segmented: bool = False,
):
    """decode_geometry_vec_batch over a layer's GLOBAL geometry varint
    array (pbf.decode_features_batch return_global form): feature fi's
    command stream is geom_vals[geom_off[fi]:geom_off[fi+1]]. The
    command-header walk itself is vectorized as a FRONTIER: one
    read-classify-advance numpy step per block DEPTH (a 6,800-feature
    buildings tile has depth 3 — MoveTo/LineTo/Close — so the whole
    walk is ~9 array ops), instead of a Python loop per feature. Output
    contract is identical to decode_geometry_vec_batch(segmented=...).
    """
    geom_off = np.asarray(geom_off, dtype=np.int64)
    n_feats = len(geom_off) - 1
    out: list = [None] * n_feats
    seg: dict | None = {} if segmented else None
    if n_feats == 0 or len(geom_vals) == 0:
        return (out, seg) if segmented else out
    gtypes = np.asarray(gtypes, dtype=np.int64)
    G_all = np.asarray(geom_vals, dtype=np.uint64).astype(np.uint32)
    mlen = np.diff(geom_off)
    feat_ok = np.zeros(n_feats, dtype=bool)

    # frontier walk (features with huge streams decline to the
    # per-feature periodic-run walker, same 512 cutoff as the list path)
    attempt = (
        (mlen > 0) & (mlen < 512)
        & ((gtypes == POINT) | (gtypes == LINESTRING) | (gtypes == POLYGON))
    )
    walk_ok = attempt.copy()
    p = geom_off[:-1].copy()
    ends = geom_off[1:]
    active = np.flatnonzero(attempt)
    cmd_parts: list[np.ndarray] = []
    cnt_parts: list[np.ndarray] = []
    vst_parts: list[np.ndarray] = []
    feat_parts: list[np.ndarray] = []
    while len(active):
        h = G_all[p[active]].astype(np.int64)
        c = h & 7
        k = h >> 3
        is_mtlt = (c == MOVE_TO) | (c == LINE_TO)
        is_cl = c == CLOSE
        nxt = p[active] + np.where(is_mtlt, 1 + 2 * k, 1)
        bad = ~(is_mtlt | is_cl) | (is_mtlt & (k == 0)) | (nxt > ends[active])
        if bad.any():
            walk_ok[active[bad]] = False
            goodm = ~bad
            active = active[goodm]
            if not len(active):
                break
            c, k, nxt, is_cl = c[goodm], k[goodm], nxt[goodm], is_cl[goodm]
        cmd_parts.append(c)
        cnt_parts.append(np.where(is_cl, 0, k))
        vst_parts.append(p[active] + 1)
        feat_parts.append(active)
        p[active] = nxt
        active = active[nxt < ends[active]]
    if not cmd_parts:
        return (out, seg) if segmented else out
    cmds = np.concatenate(cmd_parts)
    cnts = np.concatenate(cnt_parts)
    vstarts = np.concatenate(vst_parts)
    bfeat = np.concatenate(feat_parts)
    # drop blocks of features that went bad after contributing blocks,
    # then restore feature-major block order (stable sort keeps the
    # frontier's per-feature iteration order)
    keep = walk_ok[bfeat]
    if not keep.all():
        cmds, cnts, vstarts, bfeat = cmds[keep], cnts[keep], vstarts[keep], bfeat[keep]
    if len(cmds) == 0:
        return (out, seg) if segmented else out
    order = np.argsort(bfeat, kind="stable")
    cmds, cnts, vstarts, bfeat = cmds[order], cnts[order], vstarts[order], bfeat[order]
    feat_ok[:] = walk_ok
    return _batch_decode_core(
        out, seg, segmented, G_all, cmds, cnts, vstarts, bfeat, feat_ok,
        gtypes, version, tile_x, tile_y, scale_x, scale_y, bbox,
    )


def _batch_decode_core(out, seg, segmented, G_all, cmds, cnts, vstarts, bfeat,
                       feat_ok, gtypes, version, tile_x, tile_y, scale_x,
                       scale_y, bbox):
    """Shared back half of the batch decoders: canonical structure
    checks, global delta decode + per-feature segmented cumsum, and
    per-type assembly — identical whether the block table came from the
    per-feature header walk (decode_geometry_vec_batch) or the
    vectorized frontier walk (decode_geometry_vec_batch_global)."""

    is_mt = cmds == MOVE_TO
    is_lt = cmds == LINE_TO
    is_cl = cmds == CLOSE
    ft_of_blk = gtypes[bfeat]
    new_feat = np.empty(len(cmds), dtype=bool)
    new_feat[0] = True
    new_feat[1:] = bfeat[1:] != bfeat[:-1]
    nxt_same = np.empty(len(cmds), dtype=bool)
    nxt_same[:-1] = bfeat[1:] == bfeat[:-1]
    nxt_same[-1] = False

    # --- canonical structure checks, feature-vectorized ---
    bad_blk = np.zeros(len(cmds), dtype=bool)
    # POINT: MoveTo blocks only
    bad_blk |= (ft_of_blk == POINT) & ~is_mt
    # LINESTRING: no CLOSE; starts with MT(1); MT followed (same feat) by LT
    ls = ft_of_blk == LINESTRING
    bad_blk |= ls & is_cl
    bad_blk |= ls & new_feat & ~is_mt
    bad_blk |= ls & is_mt & (cnts != 1)
    if version != 1:
        nxt_is_lt = np.empty(len(cmds), dtype=bool)
        nxt_is_lt[:-1] = is_lt[1:]
        nxt_is_lt[-1] = False
        bad_blk |= ls & is_mt & ~(nxt_same & nxt_is_lt)
    # POLYGON: strict (MT(1), LT+, CLOSE)* per feature
    pg = ft_of_blk == POLYGON
    nxt_is_mt = np.empty(len(cmds), dtype=bool)
    nxt_is_mt[:-1] = is_mt[1:]
    nxt_is_mt[-1] = False
    nxt_is_lt2 = np.empty(len(cmds), dtype=bool)
    nxt_is_lt2[:-1] = is_lt[1:]
    nxt_is_lt2[-1] = False
    last_of_feat = ~nxt_same
    bad_blk |= pg & new_feat & ~is_mt
    bad_blk |= pg & last_of_feat & ~is_cl
    bad_blk |= pg & is_mt & (cnts != 1)
    bad_blk |= pg & is_mt & ~(nxt_same & nxt_is_lt2)
    bad_blk |= pg & is_lt & nxt_same & nxt_is_mt
    bad_blk |= pg & is_cl & nxt_same & ~nxt_is_mt
    if bad_blk.any():
        feat_ok[np.unique(bfeat[bad_blk])] = False

    # drop blocks of non-ok features
    keep_blk = feat_ok[bfeat]
    if not keep_blk.all():
        cmds, cnts, vstarts, bfeat = (
            cmds[keep_blk], cnts[keep_blk], vstarts[keep_blk], bfeat[keep_blk]
        )
        is_mt, is_cl = is_mt[keep_blk], is_cl[keep_blk]
        if len(cmds) == 0:
            return (out, seg) if segmented else out

    # --- global delta decode + per-feature segmented cumsum ---
    mtlt = ~is_cl
    sp_start = vstarts[mtlt]
    sp_npts = cnts[mtlt]
    sp_cmd = cmds[mtlt]
    sp_feat = bfeat[mtlt]
    nvals = sp_npts * 2
    tot = int(nvals.sum())
    if tot == 0:
        return (out, seg) if segmented else out
    gbase = np.repeat(sp_start, nvals)
    goffs = np.arange(tot, dtype=np.int64) - np.repeat(np.cumsum(nvals) - nvals, nvals)
    v64 = G_all[gbase + goffs].astype(np.int64)
    deltas = ((v64 >> 1) ^ -(v64 & 1)).reshape(-1, 2)
    per_pt_feat = np.repeat(sp_feat, sp_npts)
    pts = np.cumsum(deltas, axis=0)
    # cursor resets at feature starts: subtract the running total before
    # each feature's first point
    fstart_pt = np.empty(len(per_pt_feat), dtype=bool)
    fstart_pt[0] = True
    fstart_pt[1:] = per_pt_feat[1:] != per_pt_feat[:-1]
    seg_idx = np.cumsum(fstart_pt) - 1
    seg_base = np.zeros((int(seg_idx[-1]) + 1, 2), dtype=np.int64)
    starts_pt = np.flatnonzero(fstart_pt)
    seg_base[1:] = pts[starts_pt[1:] - 1]
    pts = pts - seg_base[seg_idx]
    if np.abs(pts).max() > (1 << 25):
        over_feats = np.unique(per_pt_feat[(np.abs(pts) > (1 << 25)).any(axis=1)])
        feat_ok[over_feats] = False
        keep_p = feat_ok[per_pt_feat]
        keep_b = feat_ok[sp_feat]
        pts, deltas, per_pt_feat = pts[keep_p], deltas[keep_p], per_pt_feat[keep_p]
        sp_cmd, sp_npts, sp_feat = sp_cmd[keep_b], sp_npts[keep_b], sp_feat[keep_b]
        if len(pts) == 0:
            return (out, seg) if segmented else out
    per_pt_cmd = np.repeat(sp_cmd, sp_npts)

    # --- per-type assembly ---
    _assemble_batch_points(
        out, feat_ok, gtypes, pts, per_pt_feat,
        tile_x, tile_y, scale_x, scale_y, bbox,
    )
    for gt in (LINESTRING, POLYGON):
        _assemble_batch_paths(
            out, feat_ok, gtypes, gt, version, pts, deltas, per_pt_feat,
            per_pt_cmd, sp_cmd, sp_npts, sp_feat,
            tile_x, tile_y, scale_x, scale_y, bbox, seg,
        )
    return (out, seg) if segmented else out


def _assemble_batch_points(out, feat_ok, gtypes, pts, per_pt_feat,
                           tile_x, tile_y, scale_x, scale_y, bbox):
    sel = feat_ok[per_pt_feat] & (gtypes[per_pt_feat] == POINT)
    if not sel.any():
        return
    P = pts[sel]
    F = per_pt_feat[sel]
    X = tile_x + P[:, 0] / scale_x
    Y = tile_y + P[:, 1] / scale_y
    if bbox is not None:
        m = (bbox[0] <= X) & (X <= bbox[2]) & (bbox[1] <= Y) & (Y <= bbox[3])
        X, Y, F = X[m], Y[m], F[m]
    XY = np.column_stack([X, Y])
    # feature slices (points of one feature are contiguous)
    bounds = np.flatnonzero(np.concatenate([[True], F[1:] != F[:-1]])) if len(F) else []
    ends = np.concatenate([bounds[1:], [len(F)]]) if len(F) else []
    feats_with_pts = set()
    for a, b in zip(bounds, ends):
        fi = int(F[a])
        feats_with_pts.add(fi)
        arr = XY[a:b]
        out[fi] = ("point", arr[0]) if len(arr) == 1 else ("multipoint", arr)
    for fi in np.flatnonzero(feat_ok & (gtypes == POINT)):
        if int(fi) not in feats_with_pts:
            out[int(fi)] = ("empty", None)  # all points bbox-filtered


def _seg_gather(coords_x, coords_y, starts, lens, rev=None):
    """Gather kept rings into one contiguous (n,2) float64 array,
    optionally reversing flagged rings — all array ops, no per-ring
    slicing."""
    total = int(lens.sum())
    base = np.repeat(starts, lens)
    pos = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    if rev is not None and rev.any():
        rev_pt = np.repeat(rev, lens)
        src = np.where(rev_pt, base + np.repeat(lens, lens) - 1 - pos, base + pos)
    else:
        src = base + pos
    cc = np.empty((total, 2), dtype=np.float64)
    cc[:, 0] = coords_x[src]
    cc[:, 1] = coords_y[src]
    return cc


def _assemble_batch_paths(out, feat_ok, gtypes, gt, version, pts, deltas,
                          per_pt_feat, per_pt_cmd, sp_cmd, sp_npts, sp_feat,
                          tile_x, tile_y, scale_x, scale_y, bbox, seg=None):
    """LINESTRING / POLYGON assembly over the batch: group bookkeeping
    and areas global, per-part structure via one pass of light Python.
    Features whose parts degenerate under v2 fall back (out[fi]=None
    stays) so the scalar path raises the exact error.

    seg (a dict) switches on SEGMENTED output: kept rings stay in flat
    arrays under seg[gt] and covered features get out[fi]="seg" — no
    per-feature ndarray or tuple is ever built (see
    decode_geometry_vec_batch's docstring for the layout)."""
    psel = feat_ok[per_pt_feat] & (gtypes[per_pt_feat] == gt)
    bsel = feat_ok[sp_feat] & (gtypes[sp_feat] == gt)
    if not psel.any():
        return
    kdel = deltas[psel]
    kcmd = per_pt_cmd[psel]
    kfeat = per_pt_feat[psel]
    kpts = pts[psel]
    scmd = sp_cmd[bsel]
    sfeat = sp_feat[bsel]
    # group id: cumsum of MoveTo blocks (global across this type's feats);
    # every group starts with exactly one MT, so group->feature is just
    # the MT blocks' feature ids in order
    is_mt_blk = scmd == MOVE_TO
    grp_of_blk = np.cumsum(is_mt_blk) - 1
    snp = sp_npts[bsel]
    grp = np.repeat(grp_of_blk, snp)
    gfeat = sfeat[is_mt_blk]
    ngroups = int(grp_of_blk[-1]) + 1

    zero = (kdel[:, 0] == 0) & (kdel[:, 1] == 0) & (kcmd == LINE_TO)
    keep = ~zero
    kpts, kgrp, kcmd2, kfeat2 = kpts[keep], grp[keep], kcmd[keep], kfeat[keep]
    counts = np.bincount(kgrp, minlength=ngroups)
    mt_counts = np.bincount(kgrp[kcmd2 == MOVE_TO], minlength=ngroups)
    lt_counts = counts - mt_counts
    min_lt = 1 if gt == LINESTRING else 2
    bad_grp = (mt_counts != 1) | (lt_counts < min_lt)
    if bad_grp.any():
        if version != 1:
            # per-FEATURE fallback; scalar replays the exact error
            bad_feats = np.unique(gfeat[np.flatnonzero(bad_grp)])
            feat_ok[bad_feats] = False
            km = feat_ok[kfeat2]
            kpts, kgrp, kcmd2, kfeat2 = kpts[km], kgrp[km], kcmd2[km], kfeat2[km]
            counts = np.bincount(kgrp, minlength=ngroups) if len(kgrp) else counts * 0
        else:
            dm = ~bad_grp[kgrp]
            kpts, kgrp, kcmd2, kfeat2 = kpts[dm], kgrp[dm], kcmd2[dm], kfeat2[dm]
            counts = np.bincount(kgrp, minlength=ngroups) if len(kgrp) else counts * 0
    if len(kpts) == 0:
        for fi in np.flatnonzero(feat_ok & (gtypes == gt)):
            out[int(fi)] = ("empty", None)
        return

    X = tile_x + kpts[:, 0] / scale_x
    Y = tile_y + kpts[:, 1] / scale_y
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]]).astype(np.int64)

    if gt == LINESTRING:
        gi_keep = np.flatnonzero(counts >= 2)
        if bbox is not None and len(gi_keep):
            st = starts[gi_keep]
            mnx = np.minimum.reduceat(X, st)
            mxx = np.maximum.reduceat(X, st)
            mny = np.minimum.reduceat(Y, st)
            mxy = np.maximum.reduceat(Y, st)
            inb = ~((mxx < bbox[0]) | (mnx > bbox[2])
                    | (mxy < bbox[1]) | (mny > bbox[3]))
            gi_keep = gi_keep[inb]
        if seg is not None:
            ln = counts[gi_keep]
            rf = gfeat[gi_keep]
            seg[gt] = {
                "coords": _seg_gather(X, Y, starts[gi_keep], ln),
                "ring_len": ln,
                "ring_feat": rf,
            }
            has = np.zeros(len(out), dtype=bool)
            has[rf] = True
            for fi in np.flatnonzero(feat_ok & (gtypes == gt)):
                fi = int(fi)
                out[fi] = "seg" if has[fi] else ("empty", None)
            return
        XY = np.column_stack([X, Y])
        per_feat_lines: dict[int, list] = {}
        for gi in gi_keep:
            fi = int(gfeat[gi])
            per_feat_lines.setdefault(fi, []).append(
                XY[starts[gi] : starts[gi] + counts[gi]]
            )
        for fi in np.flatnonzero(feat_ok & (gtypes == gt)):
            fi = int(fi)
            lines = per_feat_lines.get(fi)
            if not lines:
                out[fi] = ("empty", None)
            elif len(lines) == 1:
                out[fi] = ("linestring", lines[0])
            else:
                out[fi] = ("multilinestring", lines)
        return

    # POLYGON
    cross = kpts[:-1, 0] * kpts[1:, 1] - kpts[:-1, 1] * kpts[1:, 0]
    same = kgrp[:-1] == kgrp[1:]
    areas = np.bincount(kgrp[:-1][same], weights=cross[same].astype(np.float64),
                        minlength=ngroups).astype(np.float64)
    gi_all = np.flatnonzero(counts > 0)
    a_arr = starts[gi_all]
    b_arr = a_arr + counts[gi_all]
    need = (X[a_arr] != X[b_arr - 1]) | (Y[a_arr] != Y[b_arr - 1])
    areas = areas[gi_all]
    areas[need] += (
        kpts[b_arr - 1, 0] * kpts[a_arr, 1] - kpts[b_arr - 1, 1] * kpts[a_arr, 0]
    )[need].astype(np.float64)
    out_len = counts[gi_all] + need
    out_starts = np.concatenate([[0], np.cumsum(out_len)[:-1]]).astype(np.int64)
    OUT = np.empty((int(out_len.sum()), 2), dtype=np.float64)
    ord_of_grp = np.full(ngroups, -1, dtype=np.int64)
    ord_of_grp[gi_all] = np.arange(len(gi_all))
    shift = np.concatenate([[0], np.cumsum(need)[:-1]]).astype(np.int64)
    dest = np.arange(len(X), dtype=np.int64) + shift[ord_of_grp[kgrp]]
    OUT[dest, 0] = X
    OUT[dest, 1] = Y
    closers = np.flatnonzero(need)
    OUT[(out_starts + out_len - 1)[closers], 0] = X[a_arr[closers]]
    OUT[(out_starts + out_len - 1)[closers], 1] = Y[a_arr[closers]]
    if bbox is not None and len(gi_all):
        mnx = np.minimum.reduceat(OUT[:, 0], out_starts)
        mxx = np.maximum.reduceat(OUT[:, 0], out_starts)
        mny = np.minimum.reduceat(OUT[:, 1], out_starts)
        mxy = np.maximum.reduceat(OUT[:, 1], out_starts)

    ring_feat = gfeat[gi_all]
    reverse_sign = (scale_x * scale_y) < 0

    if seg is not None:
        # segmented polygon assembly: one light-Python pass over RING
        # headers (keep / exterior / reverse decisions — the stateful
        # winding + hole-after-dropped-exterior rules of the scalar
        # decoder, decoder.ipp:656-788), then ONE vectorized gather
        nr = len(gi_all)
        keepf = np.zeros(nr, dtype=bool)
        extf = np.zeros(nr, dtype=bool)
        revf = np.zeros(nr, dtype=bool)
        area_cw_arr = (areas < 0.0).tolist()
        olen = out_len.tolist()
        rfeat = ring_feat.tolist()
        v2s = version != 1
        cur_fi = -1
        first = True
        first_cw = False
        last_ext_excl = False
        rev = False
        for ri in range(nr):
            fi = rfeat[ri]
            if fi != cur_fi:
                cur_fi = fi
                first = True
                last_ext_excl = False
            if not feat_ok[fi] or olen[ri] <= 3:
                continue
            area_cw = area_cw_arr[ri]
            if first:
                first_cw = area_cw
                if v2s and first_cw:
                    feat_ok[fi] = False  # scalar replays the CW error
                    continue
                first = False
                rev = reverse_sign != first_cw
            is_ext = first_cw == area_cw
            in_box = True
            if bbox is not None:
                in_box = not (
                    mxx[ri] < bbox[0] or mnx[ri] > bbox[2]
                    or mxy[ri] < bbox[1] or mny[ri] > bbox[3]
                )
            if (not is_ext and last_ext_excl) or not in_box:
                if is_ext:
                    last_ext_excl = True
                continue
            if is_ext:
                last_ext_excl = False
            keepf[ri] = True
            extf[ri] = is_ext
            revf[ri] = rev
        kidx = np.flatnonzero(keepf)
        # feat_ok may have flipped inside the loop (v2 CW first ring):
        # drop any ring kept before its feature was invalidated
        if len(kidx):
            kidx = kidx[feat_ok[ring_feat[kidx]]]
        ln = out_len[kidx]
        rf = ring_feat[kidx]
        seg[gt] = {
            "coords": _seg_gather(
                OUT[:, 0], OUT[:, 1], out_starts[kidx], ln, revf[kidx]
            ),
            "ring_len": ln,
            "ring_feat": rf,
            "exterior": extf[kidx],
        }
        has = np.zeros(len(out), dtype=bool)
        has[rf] = True
        for fi in np.flatnonzero(feat_ok & (gtypes == gt)):
            fi = int(fi)
            out[fi] = "seg" if has[fi] else ("empty", None)
        return

    cur_fi = -1
    state = None  # (first_ring, first_cw, last_ext_excl, rings, exts)
    results: dict[int, tuple] = {}

    def flush(fi, state):
        if fi < 0 or state is None:
            return
        _fr, first_cw, _le, rings, exts = state
        if not rings:
            results[fi] = ("empty", None)
            return
        rev = reverse_sign != first_cw
        polys: list[list[np.ndarray]] = []
        for ring, is_ext in zip(rings, exts):
            r = ring[::-1].copy() if rev else ring
            if is_ext:
                polys.append([r])
            elif polys:
                polys[-1].append(r)
        results[fi] = (
            ("polygon", polys[0]) if len(polys) == 1 else ("multipolygon", polys)
        )

    v2 = version != 1
    for ri in range(len(gi_all)):
        fi = int(ring_feat[ri])
        if fi != cur_fi:
            flush(cur_fi, state)
            cur_fi = fi
            state = [True, False, False, [], []]
        if not feat_ok[fi] or out_len[ri] <= 3:
            continue
        area_cw = float(areas[ri]) < 0.0
        first_ring, first_cw, last_excl, rings, exts = state
        if first_ring:
            first_cw = area_cw
            if v2 and first_cw:
                feat_ok[fi] = False  # scalar replays the CW error
                state = [False, first_cw, last_excl, [], []]
                continue
            state[0] = False
            state[1] = first_cw
        is_ext = state[1] == area_cw
        in_box = True
        if bbox is not None:
            in_box = not (
                mxx[ri] < bbox[0] or mnx[ri] > bbox[2]
                or mxy[ri] < bbox[1] or mny[ri] > bbox[3]
            )
        if (not is_ext and state[2]) or not in_box:
            if is_ext:
                state[2] = True
        else:
            if is_ext:
                state[2] = False
            rings.append(OUT[out_starts[ri] : out_starts[ri] + out_len[ri]])
            exts.append(is_ext)
    flush(cur_fi, state)
    for fi in np.flatnonzero(feat_ok & (gtypes == gt)):
        fi = int(fi)
        out[fi] = results.get(fi, ("empty", None))


def _bbox_pt(bbox, x, y):
    return bbox is None or (bbox[0] <= x <= bbox[2] and bbox[1] <= y <= bbox[3])


def _bbox_env(bbox, env):
    if bbox is None:
        return True
    return not (env[2] < bbox[0] or env[0] > bbox[2] or env[3] < bbox[1] or env[1] > bbox[3])


def _decode_point(cur, tx, ty, sx, sy, bbox):
    pts = []
    while True:
        cmd, x, y = cur.point_next()
        if cmd == "end":
            break
        px, py = _scale_pt_active(x, y, tx, ty, sx, sy)
        if _bbox_pt(bbox, px, py):
            pts.append((px, py))
    if not pts:
        return ("empty", None)
    arr = np.array(pts, dtype=np.float64)
    return ("point", arr[0]) if len(arr) == 1 else ("multipoint", arr)


def _decode_linestring(cur, tx, ty, sx, sy, bbox, version):
    lines = []
    cmd, x0, y0 = cur.line_next(False)
    if cmd == "end":
        return ("empty", None)
    if cmd != "move_to":
        raise DecodeError("LINESTRING first command not MOVETO")
    while True:
        cmd, x1, y1 = cur.line_next(True)
        if cmd != "line_to":
            if cmd == "move_to":
                if version == 1:
                    x0, y0 = x1, y1
                    continue
                raise DecodeError("LINESTRING with repeated MOVETO")
            else:  # end
                if version == 1:
                    break
                raise DecodeError("LINESTRING MOVETO with no LINETO following")
        line = [_scale_pt_active(x0, y0, tx, ty, sx, sy), _scale_pt_active(x1, y1, tx, ty, sx, sy)]
        while True:
            cmd, x1, y1 = cur.line_next(True)
            if cmd != "line_to":
                break
            line.append(_scale_pt_active(x1, y1, tx, ty, sx, sy))
        arr = np.array(line, dtype=np.float64)
        env = (arr[:, 0].min(), arr[:, 1].min(), arr[:, 0].max(), arr[:, 1].max())
        if _bbox_env(bbox, env):
            lines.append(arr)
        if cmd == "end":
            break
        x0, y0 = x1, y1
    if not lines:
        return ("empty", None)
    if len(lines) == 1:
        return ("linestring", lines[0]) if len(lines[0]) > 1 else ("empty", None)
    return ("multilinestring", lines)


def _seg_area(x0, y0, x1, y1):
    return float(x0) * float(y1) - float(y0) * float(x1)


def _decode_polygon(cur, tx, ty, sx, sy, bbox, version):
    rings: list[np.ndarray] = []
    rings_exterior: list[bool] = []
    first_ring = True
    first_ring_is_clockwise = False
    last_exterior_not_included = False

    cmd, x0, y0 = cur.ring_next(False)
    if cmd == "end":
        return ("empty", None)
    if cmd != "move_to":
        raise DecodeError("POLYGON first command not MOVETO")

    while True:
        ring_area_acc = 0.0
        cmd, x1, y1 = cur.ring_next(True)
        if cmd != "line_to":
            if cmd == "close" and version == 1:
                cmd, x0, y0 = cur.ring_next(False)
                if cmd == "end":
                    break
                if cmd == "move_to":
                    continue
                if cmd == "close":
                    raise DecodeError("POLYGON CLOSE followed by CLOSE")
                raise DecodeError("POLYGON CLOSE followed by LINETO")
            raise DecodeError("POLYGON MOVETO without two LINETOs and CLOSE")
        cmd, x2, y2 = cur.ring_next(True)
        if cmd != "line_to":
            if cmd == "close" and version == 1:
                cmd, x0, y0 = cur.ring_next(False)
                if cmd == "end":
                    break
                if cmd == "move_to":
                    continue
                if cmd == "close":
                    raise DecodeError("POLYGON CLOSE followed by CLOSE")
                raise DecodeError("POLYGON CLOSE followed by LINETO")
            raise DecodeError("POLYGON MOVETO without two LINETOs and CLOSE")

        ring = [
            _scale_pt_active(x0, y0, tx, ty, sx, sy),
            _scale_pt_active(x1, y1, tx, ty, sx, sy),
            _scale_pt_active(x2, y2, tx, ty, sx, sy),
        ]
        ring_area_acc += _seg_area(x0, y0, x1, y1)
        ring_area_acc += _seg_area(x1, y1, x2, y2)
        xp, yp = x2, y2
        while True:
            cmd, x2, y2 = cur.ring_next(True)
            if cmd != "line_to":
                break
            ring.append(_scale_pt_active(x2, y2, tx, ty, sx, sy))
            ring_area_acc += _seg_area(xp, yp, x2, y2)
            xp, yp = x2, y2
        if cmd != "close":
            raise DecodeError("POLYGON ring not closed by CLOSE")
        first_pt = _scale_pt_active(x0, y0, tx, ty, sx, sy)
        if ring[-1] != first_pt:
            ring.append(first_pt)
            ring_area_acc += _seg_area(xp, yp, x0, y0)
        arr = np.array(ring, dtype=np.float64)
        if len(arr) > 3:
            area_cw = ring_area_acc < 0.0
            if first_ring:
                first_ring_is_clockwise = area_cw
                if version != 1 and first_ring_is_clockwise:
                    raise DecodeError("POLYGON first ring clockwise (invalid in v2)")
                first_ring = False
            is_exterior = first_ring_is_clockwise == area_cw
            env = (arr[:, 0].min(), arr[:, 1].min(), arr[:, 0].max(), arr[:, 1].max())
            if (not is_exterior and last_exterior_not_included) or not _bbox_env(bbox, env):
                if is_exterior:
                    last_exterior_not_included = True
            else:
                if is_exterior:
                    last_exterior_not_included = False
                rings.append(arr)
                rings_exterior.append(is_exterior)
        cmd, x0, y0 = cur.ring_next(False)
        if cmd == "end":
            break
        if cmd != "move_to":
            if cmd == "close":
                raise DecodeError("POLYGON CLOSE followed by CLOSE")
            raise DecodeError("POLYGON CLOSE followed by LINETO")

    if not rings:
        return ("empty", None)
    reverse_rings = ((sx * sy) < 0) != first_ring_is_clockwise
    polys: list[list[np.ndarray]] = []
    for ring, is_ext in zip(rings, rings_exterior):
        r = ring[::-1].copy() if reverse_rings else ring
        if is_ext:
            polys.append([r])
        elif polys:
            polys[-1].append(r)
    if len(polys) == 1:
        return ("polygon", polys[0])
    return ("multipolygon", polys)
