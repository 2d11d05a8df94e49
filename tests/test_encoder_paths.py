"""The stream encoder encodes every tile of a batch with the whole-batch
kernel (codec.encode_multi_tile_batch); only tiles whose rows carry the
per-feature struct ``meta`` form go through the reference layer encoder.
This suite generates random feature batches with nulls, empty geometries,
tiny/huge runs, multi-layer tiles and batch-carry splits, and asserts the
tiles decode to what the reference-validated single-process codec says."""

import numpy as np
import pyarrow as pa
import pytest

from vectortiles_spark.mvt import codec
from vectortiles_spark.operators.tiling import _encode_stream


def _batch(rows: dict) -> pa.RecordBatch:
    n = len(rows["tile_z"])
    return pa.record_batch(
        {
            "tile_z": pa.array(rows["tile_z"], pa.int32()),
            "tile_x": pa.array(rows["tile_x"], pa.int32()),
            "tile_y": pa.array(rows["tile_y"], pa.int32()),
            "layer": pa.array(rows["layer"], pa.string()),
            "geom_type": pa.array(rows["geom_type"], pa.int32()),
            "feature_id": pa.array(rows["feature_id"], pa.int64()),
            "geom_cmds": pa.array(rows["geom_cmds"], pa.list_(pa.int64())),
            "caption": pa.array(rows["caption"], pa.string()),
            "score": pa.array(rows["score"], pa.int64()),
        }
    )


def _random_rows(rng, n_tiles: int, max_feats: int, with_nulls: bool):
    rows = {k: [] for k in ("tile_z", "tile_x", "tile_y", "layer", "geom_type",
                             "feature_id", "geom_cmds", "caption", "score")}
    expected = {}
    for t in range(n_tiles):
        key = (10, t, t * 2 + 1)
        layers = sorted(rng.choice(["alpha", "beta", "gamma"], size=rng.integers(1, 3), replace=False))
        exp_tile = {}
        for layer in layers:
            n = int(rng.integers(1, max_feats + 1))
            for i in range(n):
                px, py = int(rng.integers(0, 4096)), int(rng.integers(0, 4096))
                stream = [9, (px << 1) ^ (px >> 63), (py << 1) ^ (py >> 63)]
                fid = int(rng.integers(0, 2**40))
                cap = None if (with_nulls and rng.random() < 0.2) else f"cap{rng.integers(0, 5)}"
                score = None if (with_nulls and rng.random() < 0.2) else int(rng.integers(0, 3))
                rows["tile_z"].append(key[0])
                rows["tile_x"].append(key[1])
                rows["tile_y"].append(key[2])
                rows["layer"].append(layer)
                rows["geom_type"].append(1)
                rows["feature_id"].append(fid)
                rows["geom_cmds"].append(stream)
                rows["caption"].append(cap)
                rows["score"].append(score)
                meta = {}
                if cap is not None:
                    meta["caption"] = (codec.VAL_STRING, cap)
                if score is not None:
                    meta["score"] = (codec.VAL_INT, score)
                exp_tile.setdefault(layer, []).append(
                    (fid, tuple(sorted(meta.items())), 1, ((px, py),))
                )
        expected[key] = {l: sorted(v) for l, v in exp_tile.items()}
    return rows, expected


def _decode_all(result_batches):
    got = {}
    for rb in result_batches:
        for i in range(rb.num_rows):
            key = (rb["tile_z"][i].as_py(), rb["tile_x"][i].as_py(), rb["tile_y"][i].as_py())
            layers = codec.decode_tile(rb["mvt"][i].as_py())
            got[key] = {
                name: sorted(
                    (
                        f.feature_id,
                        tuple(sorted(f.metadata.items())),
                        f.geom_type,
                        tuple(map(tuple, np.asarray(f.geom).tolist())),
                    )
                    for f in layer.features
                )
                for name, layer in layers.items()
            }
    return got


@pytest.mark.parametrize("seed,n_tiles,max_feats,with_nulls,chunk", [
    (1, 30, 5, False, 1 << 16),     # many small runs
    (2, 3, 400, False, 1 << 16),    # a few big runs
    (3, 20, 120, True, 1 << 16),    # null metadata values
    (4, 8, 300, False, 128),        # tiny Arrow batches -> carry machinery
    (5, 1, 900, True, 256),         # one huge multi-layer tile across many batches
])
def test_stream_encoder_matches_reference_codec(seed, n_tiles, max_feats, with_nulls, chunk):
    rng = np.random.Generator(np.random.PCG64(seed))
    rows, expected = _random_rows(rng, n_tiles, max_feats, with_nulls)
    tbl = pa.Table.from_batches([_batch(rows)])
    got = _decode_all(_encode_stream(tbl.to_batches(max_chunksize=chunk)))
    assert got == expected


def test_empty_geometry_rows_dropped():
    """Rows with an empty command stream are dropped; a tile whose only
    feature is empty still yields its row, with no bytes, features or
    layers (refresh_tiles' byte-identical-to-rebuild contract)."""
    rows = {
        "tile_z": [1, 1, 1], "tile_x": [0, 0, 1], "tile_y": [0, 0, 0],
        "layer": ["l", "l", "l"], "geom_type": [1, 1, 1], "feature_id": [7, 8, 9],
        "geom_cmds": [[], [9, 2, 2], []], "caption": ["a", "b", "c"], "score": [1, 2, 3],
    }
    tbl = pa.Table.from_batches([_batch(rows)])
    out = pa.Table.from_batches(list(_encode_stream(tbl.to_batches())))
    assert out["tile_x"].to_pylist() == [0, 1]
    assert out["n_features"].to_pylist() == [1, 0]
    assert out["n_layers"].to_pylist() == [1, 0]
    layers = codec.decode_tile(out["mvt"][0].as_py())
    assert [f.feature_id for f in layers["l"].features] == [8]
    assert out["mvt"][1].as_py() == b""


META_T = pa.list_(pa.struct([
    pa.field("key", pa.string()), pa.field("tag", pa.int32()), pa.field("s", pa.string()),
    pa.field("d", pa.float64()), pa.field("i", pa.int64()), pa.field("b", pa.bool_()),
]))


def test_struct_meta_merges_plain_columns():
    """decode_tiles output plus withColumn: a struct ``meta`` list next to a
    plain metadata column. Both reach the tile, decoded exactly as the
    reference codec encodes the merged metadata."""
    batch = pa.record_batch({
        "tile_z": pa.array([1, 1], pa.int32()), "tile_x": pa.array([0, 0], pa.int32()),
        "tile_y": pa.array([0, 0], pa.int32()), "layer": pa.array(["l", "l"]),
        "geom_type": pa.array([1, 1], pa.int32()), "feature_id": pa.array([1, 2], pa.int64()),
        "meta": pa.array(
            [[{"key": "a", "tag": codec.VAL_STRING, "s": "x"}], []], META_T
        ),
        "geom_cmds": pa.array([[9, 2, 2], [9, 4, 4]], pa.list_(pa.int64())),
        "score": pa.array([7, 8], pa.int64()),
    })
    (out,) = list(_encode_stream(iter([batch])))
    want = codec.encode_tile([codec.Layer("l", features=[
        codec.Feature(1, {"a": (codec.VAL_STRING, "x"), "score": (codec.VAL_INT, 7)},
                      1, np.array([[1, 1]])),
        codec.Feature(2, {"score": (codec.VAL_INT, 8)}, 1, np.array([[2, 2]])),
    ])])
    assert codec.roundtrip_features(out["mvt"][0].as_py()) == codec.roundtrip_features(want)
    assert out["n_features"].to_pylist() == [2] and out["n_layers"].to_pylist() == [1]


def test_struct_meta_tile_leaves_other_tiles_bytes():
    """Struct ``meta`` routes only its own tile to the reference encoder:
    the other tiles of the batch keep the kernel's bytes."""
    rng = np.random.default_rng(23)
    rows, _ = _random_rows(rng, n_tiles=6, max_feats=5, with_nulls=True)
    plain = pa.Table.from_batches([_batch(rows)])
    empty_meta = pa.array([[]] * plain.num_rows, META_T)
    struct_meta = pa.array(
        [[]] * (plain.num_rows - 1) + [[{"key": "k", "tag": codec.VAL_INT, "i": 3}]], META_T
    )

    def tiles_of(meta):
        tbl = plain.append_column("meta", meta)
        return {
            (rb["tile_x"][i].as_py(), rb["tile_y"][i].as_py()): rb["mvt"][i].as_py()
            for rb in _encode_stream(tbl.to_batches())
            for i in range(rb.num_rows)
        }

    a, b = tiles_of(empty_meta), tiles_of(struct_meta)
    last = (rows["tile_x"][-1], rows["tile_y"][-1])
    assert a[last] != b[last]
    assert {k: v for k, v in a.items() if k != last} == {
        k: v for k, v in b.items() if k != last
    }


def test_null_meta_tile_leaves_other_tiles_bytes():
    """A null metadata value in one tile must not change the bytes of the
    other tiles of its batch — field order included — or tile bytes would
    depend on which rows happened to share an Arrow batch."""
    rng = np.random.default_rng(17)
    rows, _ = _random_rows(rng, n_tiles=12, max_feats=6, with_nulls=False)
    clean = _batch(rows)
    # one null-meta row in its own EXTRA tile: the shared tiles' bytes
    # must not change
    rows_dirty = {k: list(v) for k, v in rows.items()}
    rows_dirty["tile_z"].append(10); rows_dirty["tile_x"].append(999)
    rows_dirty["tile_y"].append(999); rows_dirty["layer"].append("alpha")
    rows_dirty["geom_type"].append(1); rows_dirty["feature_id"].append(1)
    rows_dirty["geom_cmds"].append([9, 2, 2])
    rows_dirty["caption"].append(None); rows_dirty["score"].append(None)
    dirty = _batch(rows_dirty)

    def tiles_of(batch):
        out = {}
        for rb in _encode_stream(iter([batch])):
            for i in range(rb.num_rows):
                key = (rb["tile_x"][i].as_py(), rb["tile_y"][i].as_py())
                out[key] = rb["mvt"][i].as_py()
        return out

    a, b = tiles_of(clean), tiles_of(dirty)
    assert (999, 999) in b
    for key, mvt in a.items():
        assert b[key] == mvt, f"tile {key}: bytes differ between batch layouts"
