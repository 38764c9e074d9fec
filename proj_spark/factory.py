"""EPSG catalog factory: authority-code -> proj-string from the vendored
public EPSG registry (proj_spark/data/epsg_catalog.json.gz, extracted
from the same SQL tables the reference compiles into proj.db; see
FIXTURES.md §6).  src/iso19111/factory.cpp:126-292 is the reference
analogue of this module.

Lowering rules:
  - geographic CRS: +proj=longlat + ellipsoid + prime meridian
  - projected CRS: method (EPSG method code -> proj name, shared with
    the WKT lowering), parameters (EPSG parameter codes, with per-value
    unit conversion incl. sexagesimal DMS 9110), +units/+to_meter from
    the coordinate-system axis unit, +axis= from axis orientations
    (e.g. south-orientated TM), and the +towgs84 of the base geographic
    CRS's legacy definition when one exists (matching the proj4-era
    init files, so pipeline steps over the same datum stay consistent).
"""

from __future__ import annotations

import gzip
import importlib.resources
import json
import math
from functools import lru_cache


@lru_cache(maxsize=1)
def catalog() -> dict:
    # importlib.resources works from a plain checkout AND from a
    # spark-submit --py-files zip (zipimport has no real file paths)
    blob = (importlib.resources.files("proj_spark.data")
            .joinpath("epsg_catalog.json.gz").read_bytes())
    return json.loads(gzip.decompress(blob))


# ---------------------------------------------------------------------------
# unit handling
# ---------------------------------------------------------------------------

def sexagesimal_to_deg(v: float) -> float:
    """EPSG unit 9110 (sexagesimal DMS): DD.MMSSsss -> decimal degrees."""
    sign = -1.0 if v < 0 else 1.0
    v = abs(v)
    d = math.floor(v + 1e-14)
    rem = round((v - d) * 100, 10)
    m = math.floor(rem + 1e-11)
    s = (rem - m) * 100
    return sign * (d + m / 60.0 + s / 3600.0)


def proj_double(v: float) -> str:
    """The reference's PROJ-string double serialization
    (io.cpp PROJStringFormatter::addParam -> formatToString:
    round-to-tenth normalization when within 1e-8, then
    internal::toString %.15g with the '9999999999' -> %.14g retry).

    Catalog-derived pipelines in the reference are instantiated FROM
    this serialized text (exportToPROJString -> proj_create), so the
    doubles its kernels see are the reparsed %.15g values, not the
    full-precision ones — e.g. sexagesimal 10d20 lowers to
    10.3333333333333, one ulp below 10+20/60.  Matching this is what
    lands the MGI tv_out segment on the correct printf boundary."""
    if abs(v * 10 - round(v * 10)) < 1e-8:
        v = round(v * 10) / 10.0
    s = "%.15g" % v
    if "9999999999" in s:
        s = "%.14g" % v
    return s


def angle_to_deg(value: float, uom: str) -> float:
    if uom == "9110":
        return sexagesimal_to_deg(value)
    if uom in ("9102", "9122"):
        # degree: return verbatim — the catalog's stored factor is a
        # decimal rounding of pi/180 and would inject 1e-16 noise
        return value
    u = catalog()["units"].get(uom)
    if u is None or u[2] is None:
        raise NotImplementedError(f"angle unit {uom!r}")
    return value * u[2] / (math.pi / 180.0)


def length_to_m(value: float, uom: str) -> float:
    u = catalog()["units"].get(uom)
    if u is None or u[2] is None:
        raise NotImplementedError(f"length unit {uom!r}")
    return value * u[2]


# ---------------------------------------------------------------------------
# lowering
# ---------------------------------------------------------------------------

_ANGULAR = {"lat_0", "lon_0", "lat_1", "lat_2", "lat_ts", "lonc",
            "alpha", "gamma", "azi", "lon_init", "zone_width"}
_LENGTH = {"x_0", "y_0", "h_0", "X_0", "Y_0", "Z_0"}

_ORIENT = {"east": "e", "west": "w", "north": "n", "south": "s",
           "up": "u", "down": "d"}


def _geog_parts(code: str) -> list[str]:
    cat = catalog()
    crs = cat["geodetic_crs"].get(code)
    if crs is None:
        raise NotImplementedError(f"{_label(code)} not a known geodetic CRS")
    datum = cat["geodetic_datum"][crs["datum"]]
    ell = cat["ellipsoid"][datum["ellipsoid"]]
    a = length_to_m(ell["a"], ell["uom"])
    parts = []
    if ell["rf"] is not None:
        parts.append(f"+a={a!r} +rf={ell['rf']!r}")
    elif ell["b"] is not None:
        parts.append(f"+a={a!r} +b={length_to_m(ell['b'], ell['uom'])!r}")
    else:
        parts.append(f"+a={a!r} +b={a!r}")
    pm = cat["prime_meridian"].get(datum["pm"])
    if pm is not None and pm["lon"] not in (0, 0.0, None):
        parts.append(f"+pm={angle_to_deg(pm['lon'], pm['uom'])!r}")
    return parts


def _legacy_towgs84(geod_code: str) -> str | None:
    """The base CRS's +towgs84 from the legacy static registry, if any —
    keeps catalog-expanded projected CRSs datum-consistent with the
    static geographic definitions (as the proj4-era init files were)."""
    from proj_spark import epsg as epsg_mod
    try:
        definition = epsg_mod._STATIC.get(int(geod_code))
    except ValueError:       # namespaced non-EPSG base (e.g. IGNF:RGF93G)
        return None
    if definition and "+towgs84=" in definition:
        for tok in definition.split():
            if tok.startswith("+towgs84="):
                return tok[len("+towgs84="):]
    return None


def _label(key: str) -> str:
    """Human-readable authority label for a catalog key."""
    return key if ":" in key else f"EPSG:{key}"


def normalize_code(code) -> str:
    """Any accepted spelling -> catalog key: bare int / 'EPSG:n' -> 'n';
    'IGNF:LAMB93' / 'ESRI:102100' -> namespaced; OGC urns
    ('urn:ogc:def:crs:EPSG::4326') unwrap to authority:code first
    (reference analogue: createFromUserInput, src/iso19111/io.cpp:5611+)."""
    s = str(code).strip()
    if s.lower().startswith("urn:"):
        parts = s.split(":")
        if len(parts) < 3:
            raise NotImplementedError(f"unparseable urn {code!r}")
        s = f"{parts[-3]}:{parts[-1]}"
    if ":" in s:
        auth, num = s.split(":", 1)
        auth = auth.strip().upper()
        if auth == "EPSG":
            s = num
        else:
            return f"{auth}:{num.strip()}"
    try:
        return str(int(s))
    except ValueError:
        raise NotImplementedError(f"unparseable CRS code {code!r}")


def _vertical_grid(vert_code: str) -> str | None:
    """Geoid grid name for a vertical CRS, when a non-deprecated
    grid_transformation maps it AND the grid is registered in the
    engine's grid registry (runtime-loaded; grid files do not ship)."""
    from proj_spark.operations import datum as datum_mod
    cat = catalog()
    if vert_code not in cat.get("vertical_crs", {}):
        raise NotImplementedError(
            f"{_label(vert_code)} not a known vertical CRS")
    for g in cat.get("grid_transformation", {}).values():
        if g["deprecated"] or not g["grid"]:
            continue
        if vert_code in (g["src"], g["dst"]) \
                and g["grid"] in datum_mod.GRID_REGISTRY:
            return g["grid"]
    return None


#: geodetic CRS type preference for name lookup: a bare name like
#: 'ITRF2000' names the frame; 3D carries heights (which is what a
#: name-addressed frame transformation operates on), then 2D, then XYZ
_NAME_TYPE_RANK = {"geographic 3D": 0, "geographic 2D": 1,
                   "geocentric": 2}


@lru_cache(maxsize=256)
def find_crs_by_name(name: str) -> str | None:
    """Geodetic CRS NAME -> catalog code (createFromUserInput's
    findObjects name path, src/iso19111/io.cpp:5611+).  Exact
    case-insensitive match first; 'ITRF1993'-style spellings fall back
    to the EPSG short form ('ITRF93'), matching the reference's
    approximate-name search for these frames."""
    import re as _re
    cat = catalog()
    wanted = [name.strip().lower()]
    m = _re.fullmatch(r"(itrf)\s*19(\d\d)", wanted[0])
    if m:
        wanted.append(m.group(1) + m.group(2))
    best = None
    for code, crs in cat["geodetic_crs"].items():
        if crs.get("deprecated"):
            continue
        if str(crs["name"]).strip().lower() in wanted:
            rank = _NAME_TYPE_RANK.get(str(crs.get("type")), 9)
            key = (wanted.index(str(crs["name"]).strip().lower()), rank)
            if best is None or key < best[0]:
                best = (key, code)
    return best[1] if best else None


def crs_definition(code) -> str:
    """Authority code (int, 'EPSG:n', 'IGNF:NAME', 'ESRI:n', or OGC urn)
    -> proj-string from the vendored catalog."""
    from proj_spark.wkt import METHODS, PARAMS
    cat = catalog()
    code = normalize_code(code)
    if code in cat["geodetic_crs"]:
        crs = cat["geodetic_crs"][code]
        if crs["type"] == "geocentric":
            return " ".join(["+proj=geocent"] + _geog_parts(code))
        return " ".join(["+proj=longlat"] + _geog_parts(code))
    comp = cat.get("compound_crs", {}).get(code)
    if comp is not None:
        # CompoundCRS (reference src/iso19111/crs.cpp, vendored from
        # data/sql/compound_crs.sql): horizontal component lowered as
        # usual; the vertical component contributes +geoidgrids when a
        # registered geoid grid transforms its vertical CRS (the
        # +geoidgrids lowering of src/4D_api.cpp:560-696), else heights
        # pass through ellipsoidally — the same degradation as the
        # reference's proj4-string export without grid files.
        base = crs_definition(comp["horiz"])
        grid = _vertical_grid(comp["vert"])
        return base + (f" +geoidgrids={grid}" if grid else "")
    proj = cat["projected_crs"].get(code)
    if proj is None:
        raise NotImplementedError(
            f"{_label(code)} not in the vendored catalog")
    if "wkt" in proj:
        # ESRI text-definition CRS: the registry carries the authority's
        # own WKT1; lower it with the shared WKT parser
        from proj_spark import wkt as wkt_mod
        return wkt_mod.from_user_input(proj["wkt"])
    conv = cat["conversion"][proj["conversion"]]
    method = conv["method"]
    # South/West-orientated TM / LCC are the base projections with axis
    # flips from the CS; Michigan LCC adds an ellipsoid scaling factor
    _METHOD_ALIAS = {"9808": "9807",    # TM South Orientated
                     "9826": "9801",    # LCC West Orientated
                     "1051": "9802",    # LCC 2SP Michigan
                     "1041": "9819"}    # Krovak North Orientated
    mkey = method if method in METHODS else _METHOD_ALIAS.get(method)
    if mkey is None or mkey not in METHODS:
        raise NotImplementedError(
            f"{_label(code)}: method {conv['method_name']!r} ({method}) "
            "not supported")
    proj_name = METHODS[mkey]
    # Hotine Oblique Mercator variant B with alpha = gamma = 90 deg is
    # the Swiss Oblique Mercator (the reference's io.cpp makes the same
    # substitution; omerc's rectification is singular there)
    no_uoff = False
    if method in ("9812", "9815"):
        pvals = {p[0]: p[1] for p in conv["params"]}
        if (method == "9815"
                and angle_to_deg(pvals.get("8813", 0.0), "9110") == 90.0
                and angle_to_deg(pvals.get("8814", 0.0), "9110") == 90.0):
            proj_name = "somerc"
        elif method == "9812":
            # EPSG variant A: no offset along the initial line (+no_uoff);
            # variant B (azimuth centre) is proj omerc's default u_c offset
            no_uoff = True
    suppress_axis = False
    if method == "1042":
        # Krovak Modified keeps classic Krovak's positive southing/westing
        # convention (+czech), same CS reasoning as 9819 below
        suppress_axis = True
    if method == "9819":
        # standard Krovak: positive southing/westing convention is the
        # engine's +czech form; the CS (south, west) axes are thereby
        # already honored — emitting +axis too would double-flip.
        # (1041, East North, is the plain negative-coordinate form.)
        suppress_axis = True
    parts = [f"+proj={proj_name}"] + _geog_parts(proj["base"])
    if method in ("9819", "1042"):
        parts.append("+czech")
    if method == "9803":
        parts.append("+belgium")    # LCC 2SP with the 29.2985" theta offset
    if method == "9833":
        parts.append("+hyperbolic")  # Cassini with the -N^3/(6 rho nu) term
    if method == "9831":
        parts.append("+guam")   # Guam projection = aeqd's Guam variant
    if no_uoff:
        parts.append("+no_uoff")
    tw = _legacy_towgs84(proj["base"])
    if tw:
        parts.append(f"+towgs84={tw}")
    for pcode, value, uom in conv["params"]:
        key = PARAMS.get(pcode)
        # Mercator variant B (9805) and cylindrical equal area
        # (9834/9835): the standard parallel is proj's +lat_ts
        if method in ("9805", "9834", "9835") and pcode == "8823":
            key = "lat_ts"
        # Equidistant Cylindrical (1028/1029): the 1st standard
        # parallel is proj eqc's +lat_ts (reference eqc.cpp setup)
        if method in ("1028", "1029") and pcode == "8823":
            key = "lat_ts"
        # Bonne (9827/9828): the latitude of natural origin is the
        # standard parallel (+lat_1 in proj terms)
        if method in ("9827", "9828") and pcode == "8801":
            key = "lat_1"
        # Laborde (9813): proj's labrd wants lon_0 and azi
        if method == "9813":
            if pcode == "8812":
                key = "lon_0"
            elif pcode == "8813":
                key = "azi"
        if method == "1051" and pcode == "1038":
            # ellipsoid scaling factor: scale BOTH semi-axes (the shape
            # is unchanged; Michigan's K applies to the whole ellipsoid)
            import re as _re

            def _scale(mm):
                return f"+{mm.group(1)}={float(mm.group(2)) * value!r}"

            parts = [_re.sub(r"\+(a|b)=([-\d.eE+]+)", _scale, part)
                     for part in parts]
            continue
        if key is None:
            raise NotImplementedError(
                f"{_label(code)}: parameter {pcode} not supported")
        if proj_name == "somerc":
            if pcode in ("8813", "8814"):
                continue            # the 90-deg angles are implicit
            if key == "lonc":
                key = "lon_0"       # somerc uses the plain central meridian
        if key in _ANGULAR:
            value = angle_to_deg(value, uom)
        elif key in _LENGTH:
            value = length_to_m(value, uom)
        if method == "9826" and key == "x_0":
            # west-orientated: the false easting lives on the westing
            # axis; the +axis=w flip negates coordinates, so negate the
            # offset to keep W = FE - E_natural
            value = -value
        parts.append(f"+{key}={proj_double(float(value))}")
    # LCC 1SP (9801/9826): proj's lcc wants the standard parallel spelled
    # out (lat_1 = latitude of natural origin), as the legacy init files did
    if method in ("9801", "9826"):
        import re as _re
        m = _re.search(r"\+lat_0=([-\d.eE+]+)", " ".join(parts))
        if m and "+lat_1=" not in " ".join(parts):
            parts.append(f"+lat_1={m.group(1)}")
    if method == "9830":
        parts = _variant_c_y0(parts)
    # coordinate-system unit + axis orientation
    axes = cat["axis"].get(proj["cs"], [])
    axes = sorted(axes, key=lambda x: x[0])
    if axes:
        uom = axes[0][2]
        if uom and uom != "9001":
            u = cat["units"].get(uom)
            if u is None or u[2] is None:
                raise NotImplementedError(f"{_label(code)}: CS unit {uom!r}")
            parts.append(f"+to_meter={u[2]!r}")
        spec = "".join(_ORIENT.get(a[1], "") for a in axes[:2])
        # proj4-era init semantics (which the gie expectations follow):
        # plain axis REORDERING (northing-first CRSs) is ignored — values
        # stay easting,northing — but reversed directions (south/west
        # orientated grids, e.g. TM South Orientated EPSG:9808) become an
        # explicit +axis= flip in the CRS's own axis order
        if (len(spec) == 2 and not set(spec) <= {"e", "n"}
                and not suppress_axis):
            parts.append(f"+axis={spec}u")
    return _post(proj_name, parts)


def _variant_c_y0(parts: list[str]) -> list[str]:
    """Polar Stereographic variant C (EPSG 9830): the false origin sits
    at the standard parallel / central meridian intersection, so the
    variant-B false northing is N_F - y(lat_ts) (south; the sign works
    out for north too), with y(lat_ts) evaluated by the engine's own
    stere kernel — exactly EPSG's rho_F term."""
    import re as _re
    import numpy as np_
    from proj_spark.projstring import create as _create
    s = " ".join(parts)
    lat_ts = float(_re.search(r"\+lat_ts=([-\d.eE+]+)", s).group(1))
    lon_0 = float(_re.search(r"\+lon_0=([-\d.eE+]+)", s).group(1))
    n_f = float(_re.search(r"\+y_0=([-\d.eE+]+)", s).group(1))
    probe = [p for p in parts if not p.startswith(("+x_0=", "+y_0="))]
    probe.append(f"+lat_0={90.0 if lat_ts >= 0 else -90.0!r}")
    op = _create(" ".join(probe))
    _, y = op.fwd_deg(np_.array([lon_0]), np_.array([lat_ts]))
    return [f"+y_0={n_f - float(y[0])!r}" if p.startswith("+y_0=") else p
            for p in parts]


def _post(proj: str, parts: list[str]) -> str:
    s = " ".join(parts)
    if proj == "stere" and "+lat_0=" not in s and "+lat_ts=" in s:
        import re
        m = re.search(r"\+lat_ts=([-\d.eE+]+)", s)
        s += f" +lat_0={90.0 if float(m.group(1)) >= 0 else -90.0!r}"
    return s
