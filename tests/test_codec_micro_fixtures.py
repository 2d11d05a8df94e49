"""The reference suite's three micro tiles (onepoint.mvt 26 bytes,
linestring.mvt 36, polygon.mvt 34) decoded and re-encoded through
`mvt.codec`, with no fixture files: the bytes are assembled here from the
protobuf layout. Expected structures mirror the hand-written assertions at
test/Test.hs:112-154 of the reference suite; tests/test_codec_fixtures.py
runs the same checks on the files themselves.
"""

import numpy as np
import pytest

from vectortiles_spark.mvt import codec
from vectortiles_spark.mvt.geometry import GEOM_LINESTRING, GEOM_POINT, GEOM_POLYGON

# Tile{layers: Layer{name, features: [Feature{type, geometry}], extent 4096, version 1}}
ONEPOINT = (
    b"\x1a\x18"
    b"\x0a\x08OnePoint"
    b"\x12\x07" b"\x18\x01" b"\x22\x03\x09\x0a\x0a"
    b"\x28\x80\x20"
    b"\x78\x01"
)
LINESTRING = (
    b"\x1a\x22"
    b"\x0a\x0dOneLineString"
    b"\x12\x0c" b"\x18\x02" b"\x22\x08\x09\x0a\x0a\x0a\xd6\x12\xd6\x12"
    b"\x28\x80\x20"
    b"\x78\x01"
)
POLYGON = (
    b"\x1a\x20"
    b"\x0a\x0aOnePolygon"
    b"\x12\x0d" b"\x18\x03" b"\x22\x09\x09\x04\x04\x12\x06\x04\x05\x04\x0f"
    b"\x28\x80\x20"
    b"\x78\x01"
)

CASES = [
    (ONEPOINT, 26, "OnePoint", GEOM_POINT, [9, 10, 10], [[5, 5]]),
    (LINESTRING, 36, "OneLineString", GEOM_LINESTRING, [9, 10, 10, 10, 2390, 2390],
     [[[5, 5], [1200, 1200]]]),
    # MoveTo(2,2), LineTo(5,4),(2,6), re-closed
    (POLYGON, 34, "OnePolygon", GEOM_POLYGON, [9, 4, 4, 18, 6, 4, 5, 4, 15],
     [[[[2, 2], [5, 4], [2, 6], [2, 2]]]]),
]


def _geom_lists(gtype, geom):
    if gtype == GEOM_POINT:
        return np.asarray(geom).tolist()
    if gtype == GEOM_LINESTRING:
        return [p.tolist() for p in geom]
    return [[r.tolist() for r in poly] for poly in geom]


@pytest.mark.parametrize("data, size, name, gtype, stream, geom", CASES)
def test_micro_fixture_decodes(data, size, name, gtype, stream, geom):
    assert len(data) == size
    (raw,) = codec.parse_raw_tile(data)
    assert (raw.name, raw.version, raw.extent) == (name, 1, 4096)
    assert raw.keys == [] and raw.values == []
    (f,) = raw.features
    assert f.id == 0 and f.tags.size == 0
    assert f.type == gtype
    assert f.geometry.tolist() == stream
    (feat,) = codec.layer_from_raw(raw).features
    assert _geom_lists(gtype, feat.geom) == geom


@pytest.mark.parametrize("data, size, name, gtype, stream, geom", CASES)
def test_micro_fixture_reencodes(data, size, name, gtype, stream, geom):
    """decode -> encode -> decode gives the same features (the reference's
    encodeIso), and the encoder's output is a fixed point of that cycle."""
    layers = codec.decode_tile(data)
    assert list(layers) == [name]
    again = codec.encode_tile(list(layers.values()))
    assert codec.roundtrip_features(again) == codec.roundtrip_features(data)
    (raw,) = codec.parse_raw_tile(again)
    assert (raw.name, raw.version, raw.extent) == (name, 1, 4096)
    assert raw.features[0].geometry.tolist() == stream
    assert codec.encode_tile(list(codec.decode_tile(again).values())) == again
