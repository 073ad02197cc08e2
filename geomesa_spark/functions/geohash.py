"""Geohash encode/decode (base-32, standard interleaved lon/lat bits).

Backs ST_GeoHash / ST_GeomFromGeoHash / ST_PointFromGeoHash (reference:
udf/GeometricOutputFunctions.scala, GeometricConstructorFunctions.scala).
Precision is in bits, matching the reference's API.
"""

from __future__ import annotations

from geomesa_spark.geom.gh_decompose import (_BASE32, cell_bounds, cell_hash,
                                             encode_cell)

_DECODE = {c: i for i, c in enumerate(_BASE32)}


def encode(lon: float, lat: float, precision_bits: int) -> str:
    """Geohash string of ceil(precision/5) chars covering `precision_bits` bits."""
    return cell_hash(*encode_cell(lon, lat, precision_bits))


def decode_bounds(gh: str,
                  precision_bits: int | None = None
                  ) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of the geohash cell.

    `precision_bits` mirrors the reference's GeoHash(hash, prec)
    (GeoHashTest.scala:105-119: GeoHash("dqb0cn", 27) is the 27-bit cell,
    not the 30-bit one): only the first `precision_bits` bits of the
    string are used; bits past the string (absent in the BitSet) read as
    0, matching the reference's BitSet semantics."""
    n = 5 * len(gh) if precision_bits is None else precision_bits
    chars = gh.lower()[:(n + 4) // 5]
    bits = 0
    for c in chars:
        bits = (bits << 5) | _DECODE[c]
    shift = 5 * len(chars) - n
    return cell_bounds(bits >> shift if shift >= 0 else bits << -shift, n)


def decode(gh: str, precision_bits: int | None = None) -> tuple[float, float]:
    xmin, ymin, xmax, ymax = decode_bounds(gh, precision_bits)
    return (xmin + xmax) / 2, (ymin + ymax) / 2


def covering_geohash(xmin: float, ymin: float, xmax: float, ymax: float,
                     precision: int = 40) -> str:
    """Smallest whole-character geohash containing the bbox
    (BoundingBox.scala:201-205 getCoveringGeoHash): common prefix of the
    lower-left hash and the (upper-right - 1e-12) hash at ``precision``
    bits.  May be '' (the whole world) when the corners share no prefix."""
    ll = encode(xmin, ymin, precision)
    ur = encode(xmax - 1e-12, ymax - 1e-12, precision)
    out = []
    for a, b in zip(ll, ur):
        if a != b:
            break
        out.append(a)
    return "".join(out)


def geohashes_from_bbox(xmin: float, ymin: float, xmax: float, ymax: float,
                        max_hashes: int = 32,
                        precision: int = 40) -> list[str]:
    """Covering geohash set for a bbox (BoundingBox.scala:149-214
    getGeoHashesFromBoundingBox): subdivide the covering hash into its 32
    children, keep those intersecting the bbox (closed-box JTS
    semantics — touching counts), and recurse while the count stays
    under ``max_hashes``, is non-zero, and the children are finer than
    ``precision`` bits; a recursion that overshoots ``max_hashes``
    returns the coarser level instead."""

    def intersects(h: str) -> bool:
        gx0, gy0, gx1, gy1 = decode_bounds(h)
        return gx0 <= xmax and gx1 >= xmin and gy0 <= ymax and gy1 >= ymin

    def min_boxes(hash_list: list[str]) -> list[str]:
        hashes = [h + c for h in hash_list for c in _BASE32]
        hashes = [h for h in hashes if intersects(h)]
        if 0 < len(hashes) < max_hashes and len(hashes[0]) * 5 < precision:
            child = min_boxes(hashes)
            return hashes if len(child) > max_hashes else child
        return hashes

    return min_boxes([covering_geohash(xmin, ymin, xmax, ymax, precision)])
