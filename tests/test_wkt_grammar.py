"""WKT grammar-edge regression corpus — accept/reject behavior verified
differentially against the reference parser (zero mismatches on these
cases; see round-1 session). Values for accepted forms, rejection for
the rest."""

import pytest

from pure_python_geospatial_export_spark.geo import wkt

ACCEPTED = {
    "POINT(1 2)": {"type": "Point", "coordinates": [1.0, 2.0]},
    "MULTIPOINT (1 2, 3 4)": {
        "type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
    "MULTIPOINT ((1 2), (3 4))": {
        "type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
    "MULTIPOINT ((1 2), 3 4)": {
        "type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
    "POINT (1e3 -2.5E-2)": {
        "type": "Point", "coordinates": [1000.0, -0.025]},
    "POINT ( 1   2 )": {"type": "Point", "coordinates": [1.0, 2.0]},
    "LINESTRING(0 0,1 1)": {
        "type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.0]]},
    "GEOMETRYCOLLECTION (POINT (1 2),LINESTRING (0 0, 1 1))": {
        "type": "GeometryCollection",
        "geometries": [
            {"type": "Point", "coordinates": [1.0, 2.0]},
            {"type": "LineString",
             "coordinates": [[0.0, 0.0], [1.0, 1.0]]},
        ],
    },
    "GEOMETRYCOLLECTION (POINT EMPTY)": {
        "type": "GeometryCollection",
        "geometries": [{"type": "Point", "coordinates": []}],
    },
    "SRID=0;POINT (1 2)": {
        "type": "Point", "coordinates": [1.0, 2.0], "meta": {"srid": 0}},
    # 5-ordinate points parse (reference parser is ordinate-count agnostic)
    "POINT (1 2 3 4 5)": {
        "type": "Point", "coordinates": [1.0, 2.0, 3.0, 4.0, 5.0]},
    # empty parens accepted as an empty point (reference behavior)
    "POINT ()": {"type": "Point", "coordinates": []},
}

REJECTED = [
    "point (1 2)",           # lowercase tag
    "POINT",
    "",
    "POLYGON (0 0, 1 1)",    # missing ring parens
]


@pytest.mark.parametrize("text", sorted(ACCEPTED))
def test_accepted_forms(text):
    assert wkt.loads(text) == ACCEPTED[text]


@pytest.mark.parametrize("text", REJECTED)
def test_rejected_forms(text):
    with pytest.raises(ValueError):
        wkt.loads(text)


# ---------------------------------------------------------------------------
# bounds_batch fast path vs the per-row loads path (bit-identical bounds)
# ---------------------------------------------------------------------------

_NON_ASCII_DIGITS = ["٣", "５", "১"]  # Arabic-Indic, fullwidth, Bengali
_ODD_SPACES = [" ", " ", "\x0b", "\x1c", "\t", "\n", "\r\n", "  "]


def _fuzz_number(rng):
    pick = rng.randrange(12)
    v = rng.uniform(-180, 180)
    if pick == 0:
        return "%.*e" % (rng.randrange(0, 17), v)
    if pick == 1:
        return rng.choice([".5", "5.", "-.25", "-7.", "1.e2", "1E+05",
                           "2e-3", "-0", "-0.0", "0", "0.0", "1e400",
                           "-1e400", "1e-400", "4.9e-324"])
    if pick == 2:
        return str(rng.randrange(-1000, 1000))
    if pick == 3:
        return "%de%d" % (rng.randrange(10 ** rng.randrange(1, 25)),
                          rng.randrange(-340, 330))
    if pick == 4:
        return "".join(rng.choice("0123456789")
                       for _ in range(rng.randrange(1, 40))) + "." + "7" * 30
    if pick == 5:
        return "%.17g" % v
    return "%.*f" % (rng.randrange(1, 13), v)


def _fuzz_vertex(rng, dims=2):
    return " ".join(_fuzz_number(rng) for _ in range(dims))


def _fuzz_seq(rng, n_min, dims):
    sep = rng.choice([", ", ",", " , "])
    return "(%s)" % sep.join(
        _fuzz_vertex(rng, dims) for _ in range(rng.randrange(n_min, 7))
    )


def _fuzz_clean(rng):
    kind = rng.choice(["POLYGON", "MULTIPOLYGON", "LINESTRING",
                       "MULTILINESTRING"])
    dims = 2 if rng.random() < 0.8 else rng.choice([1, 3, 4])
    if kind == "LINESTRING":
        body = _fuzz_seq(rng, 1, dims)
    elif kind in ("POLYGON", "MULTILINESTRING"):
        body = "(%s)" % ", ".join(
            _fuzz_seq(rng, 1, dims) for _ in range(rng.randrange(1, 4)))
    else:
        body = "(%s)" % ", ".join(
            "(%s)" % ", ".join(_fuzz_seq(rng, 1, dims)
                               for _ in range(rng.randrange(1, 3)))
            for _ in range(rng.randrange(1, 4)))
    return kind + rng.choice([" ", "", "  "]) + body


def _fuzz_mutate(rng, s):
    pick = rng.randrange(13)
    if pick == 0:
        return s.lower() if rng.random() < 0.5 else s.title()
    if pick == 1:
        return "SRID=%d;%s" % (rng.choice([0, 4326]), s)
    if pick == 2:
        head, _, rest = s.partition(" (")
        return "%s %s (%s" % (head, rng.choice(["Z", "M", "ZM"]), rest)
    if pick == 3:
        return s.split(" ")[0].split("(")[0] + " EMPTY"
    if pick == 4:
        i = rng.randrange(len(s))
        return s[:i] + rng.choice(_NON_ASCII_DIGITS) + s[i + 1:]
    if pick == 5:
        return s.replace(" ", rng.choice(_ODD_SPACES), rng.randrange(1, 4))
    if pick == 6:
        return s[:-1]  # unclosed paren
    if pick == 7:
        return s.replace(".", ".5.", 1)  # e.g. 1.5.3
    if pick == 8:
        return s + rng.choice([" x", " )", ",", " 1"])
    if pick == 9:
        return rng.choice(["\t", " ", "\n"]) + s + rng.choice(["\n", " "])
    if pick == 10:
        return s.replace(" ", "", 1)
    return s


def _fuzz_rows(n=3000, seed=20231017):
    import random

    rng = random.Random(seed)
    rows = list(ACCEPTED) + list(REJECTED) + [None, "POLYGON (())"]
    # signed zeros mixed in one column: min/max must keep the row
    # path's sign
    rows += ["LINESTRING (%s)" % ", ".join(
        "%s %s" % (rng.choice(["0", "-0", "0.0", "-0.0"]),
                   rng.choice(["-0", "0", "1"]))
        for _ in range(rng.randrange(2, 40))) for _ in range(100)]
    while len(rows) < n:
        s = _fuzz_clean(rng)
        if rng.random() < 0.45:
            s = _fuzz_mutate(rng, s)
        rows.append(None if rng.random() < 0.01 else s)
    return rows


def _row_oracle(s):
    """The per-row ``loads`` path: 2-D vertex bbox of a linear/areal
    geometry, None for anything that raises."""
    import numpy as np

    try:
        g = wkt.loads(s)
        c = g["coordinates"]
        parts = {
            "LineString": lambda: [c],
            "MultiLineString": lambda: list(c),
            "Polygon": lambda: c,
            "MultiPolygon": lambda: [r for p in c for r in p],
        }[g["type"]]()
        arr = np.concatenate(
            [np.asarray(p, dtype=np.float64)[:, :2] for p in parts])
        return (float(arr[:, 0].min()), float(arr[:, 1].min()),
                float(arr[:, 0].max()), float(arr[:, 1].max()))
    except Exception:
        return None


def _packed(vals):
    import struct

    return None if vals is None else b"".join(
        struct.pack("d", v) for v in vals)


def test_bounds_batch_bit_identical_to_row_path():
    import math

    rows = _fuzz_rows()
    want = [_packed(_row_oracle(s)) for s in rows]
    got = [None if all(math.isnan(v) for v in b) else _packed(b)
           for b in wkt.bounds_batch(rows).tolist()]
    mismatched = [(rows[i], want[i], got[i]) for i in range(len(rows))
                  if want[i] != got[i]]
    assert not mismatched, mismatched[:5]
    # the corpus exercises both paths and both outcomes
    assert 500 < sum(w is None for w in want) < len(rows) - 1000


def test_attach_probe_bboxes_bit_identical_to_row_path(spark):
    from pure_python_geospatial_export_spark.operators.spatial_join import (
        attach_probe_bboxes,
    )

    rows = _fuzz_rows()
    df = spark.createDataFrame(
        list(enumerate(rows)), "_id long, _wkt string").repartition(3)
    out = attach_probe_bboxes(df, False, include_raw=True).collect()
    got = {r["_id"]: (_packed([r["_xmin"], r["_ymin"], r["_xmax"],
                               r["_ymax"]]),
                      _packed([r["_rxmin"], r["_rymin"], r["_rxmax"],
                               r["_rymax"]]))
           for r in out}
    want = {i: _packed(_row_oracle(s)) for i, s in enumerate(rows)}
    want = {i: (b, b) for i, b in want.items() if b is not None}
    assert got == want
