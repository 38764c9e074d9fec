"""Grid file loaders: NTv2 (.gsb) horizontal shift grids with subgrid
trees, and NOAA .gtx vertical (geoid) grids.

Faithful ports of the reference's readers:
  - NTv2 header/subfile layout and the reversed E-W storage direction:
    src/gridinfo.cpp:430-640 (pj_gridinfo_init_ntv2) and :273-356 (data
    loading, seconds -> radians, 4 float32 per node, accuracy skipped);
  - GTX 40-byte big-endian header: src/gridinfo.cpp:740-830;
  - subgrid selection by bounding box with the del/10000 epsilon and
    parent -> child descent: src/apply_gridshift.cpp:113-174
    (find_ctable); points matching no table fall back to "no shift"
    (src/apply_gridshift.cpp:247-255, the non-SEVERE branch).

At Spark scale a loaded GridSet is broadcast inside the UDF closure
exactly like the in-memory grids (SURVEY.md §1.4); the loaders are the
file-format plumbing that feeds the same `Grid` dataclass and
`nad_intr`/`nad_cvt` kernels.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

import numpy as np

from proj_spark.operations.datum import Grid

D2R = np.pi / 180.0
SEC2RAD = D2R / 3600.0


@dataclass
class GridNode:
    """One NTv2 subfile: a Grid plus its place in the subgrid tree."""

    name: str
    parent: str
    grid: Grid
    children: list["GridNode"] = field(default_factory=list)

    def _bbox_contains(self, lam, phi):
        g = self.grid
        dlam, dphi = g.del_
        nlam, nphi = g.lim
        eps = (abs(dphi) + abs(dlam)) / 10000.0
        return ((phi >= g.ll[1] - eps) & (lam >= g.ll[0] - eps)
                & (phi <= g.ll[1] + (nphi - 1) * dphi + eps)
                & (lam <= g.ll[0] + (nlam - 1) * dlam + eps))


class GridSet:
    """An ordered list of top-level GridNodes (one .gsb file, or a
    +nadgrids chain) with vectorized per-point table selection."""

    def __init__(self, roots: list[GridNode]):
        self.roots = roots

    def tables(self) -> list[GridNode]:
        out = []

        def walk(n):
            out.append(n)
            for c in n.children:
                walk(c)
        for r in self.roots:
            walk(r)
        return out

    def select(self, lam, phi) -> list[tuple[GridNode, np.ndarray]]:
        """find_ctable vectorized: per point, the first top-level table
        whose bbox (epsilon-tolerant) contains it, descending into
        matching children.  Returns (node, mask) groups; unmatched
        points appear in no group (caller leaves them unshifted)."""
        lam = np.asarray(lam, dtype=np.float64)
        phi = np.asarray(phi, dtype=np.float64)
        unassigned = np.ones(lam.shape, dtype=bool)
        groups: list[tuple[GridNode, np.ndarray]] = []
        for root in self.roots:
            m = unassigned & root._bbox_contains(lam, phi)
            if not m.any():
                continue
            unassigned &= ~m
            # descend: children claim their sub-areas (first match wins)
            stack = [(root, m)]
            while stack:
                node, mask = stack.pop()
                rest = mask
                for child in node.children:
                    cm = rest & child._bbox_contains(lam, phi)
                    if cm.any():
                        stack.append((child, cm))
                        rest = rest & ~cm
                if rest.any():
                    groups.append((node, rest))
        return groups


# ---------------------------------------------------------------------------
# NTv2 (.gsb)
# ---------------------------------------------------------------------------

def load_gsb(path: str) -> GridSet:
    """Parse an NTv2 .gsb file into a GridSet (subgrid tree preserved)."""
    with open(path, "rb") as f:
        data = f.read()
    if len(data) < 11 * 16:
        raise ValueError(f"{path}: truncated NTv2 overview header")
    # endianness probe: NUM_OREC value must be 11 (gridinfo.cpp:455-458)
    le = struct.unpack("<i", data[8:12])[0] == 11
    be = struct.unpack(">i", data[8:12])[0] == 11
    if not (le or be):
        raise ValueError(f"{path}: not an NTv2 file (NUM_OREC != 11)")
    end = "<" if le else ">"
    num_files = struct.unpack(f"{end}i", data[8 + 32:8 + 36])[0]
    pos = 11 * 16
    nodes: list[GridNode] = []
    by_name: dict[str, GridNode] = {}
    for _ in range(num_files):
        hdr = data[pos:pos + 11 * 16]
        if len(hdr) < 11 * 16 or hdr[:8] != b"SUB_NAME":
            raise ValueError(f"{path}: bad NTv2 subfile header at {pos}")
        name = hdr[8:16].decode("ascii", "replace").strip("\x00 ")
        parent = hdr[24:32].decode("ascii", "replace").strip("\x00 ")
        def dbl(rec):  # value field of 16-byte record `rec`
            return struct.unpack(f"{end}d", hdr[rec * 16 + 8:rec * 16 + 16])[0]
        s_lat, n_lat = dbl(4), dbl(5)
        e_long, w_long = dbl(6), dbl(7)
        lat_inc, long_inc = dbl(8), dbl(9)
        gs_count = struct.unpack(f"{end}i", hdr[10 * 16 + 8:10 * 16 + 12])[0]
        # gridinfo.cpp:531-538: west-positive seconds -> east-positive
        ll_lam, ll_phi = -w_long, s_lat
        ur_lam = -e_long
        nlam = int(abs(ur_lam - ll_lam) / long_inc + 0.5) + 1
        nphi = int(abs(n_lat - ll_phi) / lat_inc + 0.5) + 1
        if gs_count != nlam * nphi:
            raise ValueError(f"{path}: GS_COUNT {gs_count} != {nlam}x{nphi}")
        pos += 11 * 16
        raw = np.frombuffer(data, dtype=f"{end}f4",
                            count=gs_count * 4, offset=pos)
        pos += gs_count * 4 * 4
        vals = raw.reshape(nphi, nlam, 4)
        # NTv2 rows run east->west; CTABLE wants west->east
        # (gridinfo.cpp:333-343); fields are (phi_sec, lam_sec, acc, acc)
        # reference stores float32(double(sec) * SEC2RAD) in the CTABLE
        # (gridinfo.cpp:340-341): multiply in double, then quantize
        cvs = np.empty((nphi, nlam, 2), dtype=np.float64)
        cvs[:, :, 0] = (vals[:, ::-1, 1].astype(np.float64)
                        * SEC2RAD).astype(np.float32)     # dlam
        cvs[:, :, 1] = (vals[:, ::-1, 0].astype(np.float64)
                        * SEC2RAD).astype(np.float32)     # dphi
        grid = Grid(ll=(ll_lam * SEC2RAD, ll_phi * SEC2RAD),
                    del_=(long_inc * SEC2RAD, lat_inc * SEC2RAD),
                    cvs=cvs)
        node = GridNode(name=name, parent=parent, grid=grid)
        by_name[name] = node
        if parent in ("NONE", ""):
            nodes.append(node)
        elif parent in by_name:
            by_name[parent].children.append(node)
        else:
            raise ValueError(f"{path}: subgrid {name} references unknown "
                             f"parent {parent}")
    return GridSet(nodes)


def write_gsb(path: str,
              subgrids: list[dict]) -> None:
    """Write a minimal valid little-endian NTv2 file (the public format;
    used by tests to exercise load_gsb against synthetic grids).

    Each subgrid dict: {name, parent ('NONE' for top level), s_lat,
    n_lat, w_long, e_long (seconds, west POSITIVE as in the format),
    lat_inc, long_inc (seconds), shifts: (nphi, nlam, 2) float32 array of
    (phi_sec, lam_sec) in the CTABLE west->east row order}.
    """
    def rec(tag: bytes, value: bytes) -> bytes:
        return tag.ljust(8)[:8] + value

    out = bytearray()
    out += rec(b"NUM_OREC", struct.pack("<i", 11) + b"\x00" * 4)
    out += rec(b"NUM_SREC", struct.pack("<i", 11) + b"\x00" * 4)
    out += rec(b"NUM_FILE", struct.pack("<i", len(subgrids)) + b"\x00" * 4)
    out += rec(b"GS_TYPE ", b"SECONDS ")
    out += rec(b"VERSION ", b"NTv2.0  ")
    out += rec(b"SYSTEM_F", b"SYNTH   ")
    out += rec(b"SYSTEM_T", b"SYNTH   ")
    out += rec(b"MAJOR_F ", struct.pack("<d", 6378388.0))
    out += rec(b"MINOR_F ", struct.pack("<d", 6356911.946))
    out += rec(b"MAJOR_T ", struct.pack("<d", 6378137.0))
    out += rec(b"MINOR_T ", struct.pack("<d", 6356752.314))
    for sg in subgrids:
        shifts = np.asarray(sg["shifts"], dtype=np.float32)
        nphi, nlam, _ = shifts.shape
        out += rec(b"SUB_NAME", sg["name"].encode().ljust(8)[:8])
        out += rec(b"PARENT  ", sg["parent"].encode().ljust(8)[:8])
        out += rec(b"CREATED ", b"        ")
        out += rec(b"UPDATED ", b"        ")
        out += rec(b"S_LAT   ", struct.pack("<d", sg["s_lat"]))
        out += rec(b"N_LAT   ", struct.pack("<d", sg["n_lat"]))
        out += rec(b"E_LONG  ", struct.pack("<d", sg["e_long"]))
        out += rec(b"W_LONG  ", struct.pack("<d", sg["w_long"]))
        out += rec(b"LAT_INC ", struct.pack("<d", sg["lat_inc"]))
        out += rec(b"LONG_INC", struct.pack("<d", sg["long_inc"]))
        out += rec(b"GS_COUNT", struct.pack("<i", nphi * nlam) + b"\x00" * 4)
        # file rows run east->west: reverse the west->east input columns
        rows = np.zeros((nphi, nlam, 4), dtype=np.float32)
        rows[:, :, 0] = shifts[:, ::-1, 0]   # phi seconds
        rows[:, :, 1] = shifts[:, ::-1, 1]   # lam seconds
        out += rows.tobytes()
    out += b"END     " + b"\x00" * 8
    with open(path, "wb") as f:
        f.write(bytes(out))


# ---------------------------------------------------------------------------
# GTX (vertical)
# ---------------------------------------------------------------------------

def load_gtx(path: str) -> Grid:
    """Parse a NOAA .gtx geoid grid (big-endian; gridinfo.cpp:740-830)."""
    with open(path, "rb") as f:
        header = f.read(40)
        if len(header) < 40:
            raise ValueError(f"{path}: truncated GTX header")
        yorigin, xorigin, ystep, xstep = struct.unpack(">4d", header[:32])
        rows, columns = struct.unpack(">2i", header[32:40])
        if not (-360 <= xorigin <= 360 and -90 <= yorigin <= 90):
            raise ValueError(f"{path}: gtx header has invalid extents")
        vals = np.frombuffer(f.read(rows * columns * 4), dtype=">f4")
    if vals.size != rows * columns:
        raise ValueError(f"{path}: truncated GTX data")
    if xorigin >= 180.0:
        xorigin -= 360.0   # gridinfo.cpp:813-814
    cvs = vals.reshape(rows, columns).astype(np.float64)
    return Grid(ll=(xorigin * D2R, yorigin * D2R),
                del_=(xstep * D2R, ystep * D2R), cvs=cvs)


def write_gtx(path: str, yorigin: float, xorigin: float, ystep: float,
              xstep: float, values: np.ndarray) -> None:
    """Write a .gtx file (degrees origin/steps, (rows, cols) values)."""
    values = np.asarray(values, dtype=np.float64)
    rows, columns = values.shape
    with open(path, "wb") as f:
        f.write(struct.pack(">4d", yorigin, xorigin, ystep, xstep))
        f.write(struct.pack(">2i", rows, columns))
        f.write(values.astype(">f4").tobytes())


# ---------------------------------------------------------------------------
# NTv1 (.dat) — src/gridinfo.cpp:654-738 (header) + :195-270 (data)
# ---------------------------------------------------------------------------

def load_ntv1(path: str) -> Grid:
    """Parse an NTv1-style Canadian grid shift file: 192-byte header
    (12 records of 16 bytes, big-endian payloads), then rows of
    big-endian double pairs (dphi_sec, dlam_sec) running EAST -> WEST
    per row (the CTABLE stores them reversed, gridinfo.cpp:252-259)."""
    with open(path, "rb") as f:
        header = f.read(192)
        if len(header) < 192:
            raise ValueError(f"{path}: truncated NTv1 header")
        if struct.unpack(">i", header[8:12])[0] != 12:
            raise ValueError(f"{path}: NTv1 record count != 12")

        def dbl(off):
            return struct.unpack(">d", header[off:off + 8])[0]

        ll_phi = dbl(24)                    # S LAT (degrees)
        ur_phi = dbl(40)                    # N LAT
        ur_lam = -dbl(56)                   # E LONG (west-positive file)
        ll_lam = -dbl(72)                   # W LONG
        lat_inc = dbl(88)
        long_inc = dbl(104)
        nlam = int(abs(ur_lam - ll_lam) / long_inc + 0.5) + 1
        nphi = int(abs(ur_phi - ll_phi) / lat_inc + 0.5) + 1
        raw = np.frombuffer(f.read(nphi * nlam * 16), dtype=">f8")
    if raw.size != nphi * nlam * 2:
        raise ValueError(f"{path}: truncated NTv1 data")
    vals = raw.reshape(nphi, nlam, 2)       # (dphi_sec, dlam_sec), E->W
    cvs = np.empty((nphi, nlam, 2), dtype=np.float64)
    # reverse each row to W->E; float32-quantize like the reference's
    # CTABLE (float cast at gridinfo.cpp:257-258)
    cvs[:, :, 0] = (vals[:, ::-1, 1] * SEC2RAD).astype(np.float32)  # dlam
    cvs[:, :, 1] = (vals[:, ::-1, 0] * SEC2RAD).astype(np.float32)  # dphi
    return Grid(ll=(ll_lam * D2R, ll_phi * D2R),
                del_=(long_inc * D2R, lat_inc * D2R), cvs=cvs)


def write_ntv1(path: str, s_lat: float, n_lat: float, w_long: float,
               e_long: float, lat_inc: float, long_inc: float,
               shifts: np.ndarray) -> None:
    """Write an NTv1 file (degrees, west-positive longitudes; shifts
    shape (nphi, nlam, 2) as (dphi_sec, dlam_sec) in W->E column order —
    the writer re-reverses rows into the format's E->W direction)."""
    shifts = np.asarray(shifts, dtype=np.float64)
    nphi, nlam, _ = shifts.shape
    with open(path, "wb") as f:
        hdr = bytearray(192)
        hdr[0:8] = b"HEADER  "
        hdr[8:12] = struct.pack(">i", 12)
        # tags at 96 ('W GRID') and 144 ('TO      NAD83   ') are the
        # magic bytes pj_gridinfo_init sniffs (gridinfo.cpp:917-920);
        # the long-inc VALUE still lives at offset 104 (to_double(
        # header+104), gridinfo.cpp:717)
        for off, tag, v in ((16, b"S LAT   ", s_lat), (32, b"N LAT   ", n_lat),
                            (48, b"E LONG  ", e_long), (64, b"W LONG  ", w_long),
                            (80, b"LAT INC ", lat_inc),
                            (96, b"W GRID  ", long_inc)):
            hdr[off:off + 8] = tag
            hdr[off + 8:off + 16] = struct.pack(">d", v)
        hdr[144:160] = b"TO      NAD83   "
        f.write(bytes(hdr))
        f.write(shifts[:, ::-1, :].astype(">f8").tobytes())


# ---------------------------------------------------------------------------
# CTABLE2 — src/nad_init.cpp:149-240 (160-byte LE header, float32 pairs
# (lam, phi) in radians, W->E rows S->N)
# ---------------------------------------------------------------------------

def load_ctable2(path: str) -> Grid:
    with open(path, "rb") as f:
        header = f.read(160)
        if len(header) < 160 or not header.startswith(b"CTABLE V2"):
            raise ValueError(f"{path}: not a CTABLE2 file")
        ll_lam, ll_phi, del_lam, del_phi = struct.unpack(
            "<4d", header[96:128])
        nlam, nphi = struct.unpack("<2i", header[128:136])
        if not (1 <= nlam <= 100000 and 1 <= nphi <= 100000):
            raise ValueError(f"{path}: corrupt CTABLE2 dims")
        raw = np.frombuffer(f.read(nphi * nlam * 8), dtype="<f4")
    if raw.size != nphi * nlam * 2:
        raise ValueError(f"{path}: truncated CTABLE2 data")
    vals = raw.reshape(nphi, nlam, 2)       # (lam, phi) radians, W->E
    cvs = vals.astype(np.float64)
    return Grid(ll=(ll_lam, ll_phi), del_=(del_lam, del_phi), cvs=cvs)


def write_ctable2(path: str, grid_id: str, ll: tuple, del_: tuple,
                  cvs: np.ndarray) -> None:
    """Write a CTABLE2 file (ll/del_ radians; cvs (nphi, nlam, 2) as
    (dlam, dphi) radians — the same channel order Grid.cvs uses)."""
    cvs = np.asarray(cvs, dtype=np.float64)
    nphi, nlam, _ = cvs.shape
    with open(path, "wb") as f:
        hdr = bytearray(160)
        hdr[0:16] = b"CTABLE V2.0     "
        ident = grid_id.encode("ascii", "replace")[:79]
        hdr[16:16 + len(ident)] = ident
        hdr[96:128] = struct.pack("<4d", ll[0], ll[1], del_[0], del_[1])
        hdr[128:136] = struct.pack("<2i", nlam, nphi)
        f.write(bytes(hdr))
        f.write(cvs.astype("<f4").tobytes())


def null_grid() -> Grid:
    """The reference's data/null CTABLE2 (3x3 zeros covering the whole
    world, ll=(-pi,-pi/2), del=(pi,pi/2)) constructed directly — the
    catch-all identity entry of grid lists like 'ntf_r93.gsb,null'."""
    return Grid(ll=(-np.pi, -np.pi / 2.0), del_=(np.pi, np.pi / 2.0),
                cvs=np.zeros((3, 3, 2), dtype=np.float64))


# ---------------------------------------------------------------------------
# registry integration
# ---------------------------------------------------------------------------

def register_grid_file(name: str, path: str) -> None:
    """Load a grid file and register it under `name` so proj-string
    +grids=/+nadgrids=/+geoidgrids= parameters resolve to it.  The
    format is sniffed from the content like the reference's
    pj_gridinfo_init (gridinfo.cpp:917-941): NTv1 needs 'HEADER'@0 +
    'W GRID'@96 + 'TO      NAD83   '@144; NTv2 needs 'NUM_OREC'@0 +
    'GS_TYPE'@48; then GTX by extension; then the CTABLE2 magic.  A
    record-count word alone is NOT enough — an unrelated binary whose
    bytes 8:12 decode to 11/12 must not be mis-sniffed."""
    from proj_spark.operations import datum as datum_mod
    with open(path, "rb") as f:
        head = f.read(160)
    if (len(head) >= 144 + 16 and head[0:6] == b"HEADER"
            and head[96:102] == b"W GRID"
            and head[144:160] == b"TO      NAD83   "):
        datum_mod.GRID_REGISTRY[name] = load_ntv1(path)
        return
    if (len(head) >= 48 + 7 and head[0:8] == b"NUM_OREC"
            and head[48:55] == b"GS_TYPE"):
        datum_mod.GRID_REGISTRY[name] = load_gsb(path)
        return
    ext = os.path.splitext(path)[1].lower()
    if ext == ".gtx":
        datum_mod.GRID_REGISTRY[name] = load_gtx(path)
        return
    if head.startswith(b"CTABLE V2"):
        datum_mod.GRID_REGISTRY[name] = load_ctable2(path)
        return
    raise NotImplementedError(f"unrecognized grid format: {path}")
