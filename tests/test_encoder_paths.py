"""The stream encoder encodes every tile of a batch with the whole-batch
kernel (codec.encode_multi_tile_batch), whether its metadata comes as
plain columns or as decode_tiles' per-feature struct ``meta``: both are
flattened into per-feature (key, value) pairs, the kernel's one metadata
input. This suite generates random feature batches with nulls, empty
geometries, tiny/huge runs, multi-layer tiles and batch-carry splits,
and asserts the tiles decode to what the reference-validated
single-process codec says, and that the kernel's bytes equal the scalar
reference encoder's."""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from vectortiles_spark.mvt import codec, wire
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
    """Struct ``meta`` in one tile changes only that tile's bytes: the
    other tiles of the batch keep theirs."""
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


# metadata columns for the kernel-vs-reference test: two string columns
# that share values, 64-bit ints past 2^53, doubles with both zeros, and
# one column of each remaining tag (FLOAT: two doubles that round to one
# float32 are one wire value)
_KERNEL_COLS = {
    "name": (codec.VAL_STRING, pa.string(), ["a", "b", "x", "long caption " * 12]),
    "alias": (codec.VAL_STRING, pa.string(), ["b", "x", "y"]),
    "big": (codec.VAL_INT, pa.int64(), [2**53, 2**53 + 1, -(2**60), 7]),
    "d": (codec.VAL_DOUBLE, pa.float64(), [0.0, -0.0, 1.5]),
    "f32": (codec.VAL_FLOAT, pa.float64(), [0.0, -0.0, 1.5, 0.1, 0.1 + 1e-12]),
    "u": (codec.VAL_UINT, pa.int64(), [0, 1, 2**53 + 1, 2**63 - 1]),
    "zz": (codec.VAL_SINT, pa.int64(), [0, -1, -(2**62), 2**53 + 5, -(2**63)]),
    "ok": (codec.VAL_BOOL, pa.bool_(), [True, False]),
}


@pytest.mark.parametrize("keys", [
    (), ("d",), ("name", "alias"), ("alias", "big", "d"), ("name", "alias", "big"),
    ("f32", "u", "zz"), ("name", "d", "f32", "big", "u", "zz", "ok"),
], ids=lambda keys: "-".join(keys) or "none")
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_kernel_bytes_equal_reference_encoder(keys, seed):
    """Every (tile, layer) run the batch kernel writes is byte-identical to
    encode_layer_from_streams over the same features: keys only where a
    feature uses them, one value table shared by all keys, both in
    first-appearance order, each feature's pairs in its own (shuffled)
    key order — whole-run NULL columns, shared values, every value tag,
    0.0 / -0.0 and ints >= 2^53 included."""
    rng = np.random.Generator(np.random.PCG64(seed))
    rows = {c: [] for c in ("tz", "tx", "ty", "layer", "fid", "gt", "stream", "meta")}
    want = {}
    for t in range(int(rng.integers(1, 12))):
        tile = (9, t, 3)
        for layer in sorted(rng.choice(["a", "b", "c"], int(rng.integers(1, 4)), replace=False)):
            dead = {k for k in keys if rng.random() < 0.3}  # NULL across the run
            feats = []
            for _ in range(int(rng.integers(1, 40))):
                gt = int(rng.integers(1, 3))
                x, y = (int(v) for v in rng.integers(0, 4096, 2))
                stream = [9, x << 1, y << 1] + ([10, 2, 2] if gt == 2 else [])
                picks = [  # (key, pool index), in a shuffled key order
                    (k, int(rng.integers(len(_KERNEL_COLS[k][2]))))
                    for k in rng.permutation(list(keys)).tolist()
                    if k not in dead and rng.random() >= 0.3
                ]
                feats.append((int(rng.integers(-2**62, 2**62)), picks, gt, stream))
            # the kernel takes rows in the sink's (geom_type, feature_id) order
            feats.sort(key=lambda f: (f[2], f[0]))
            for fid, picks, gt, stream in feats:
                for c, v in zip(rows, (*tile, layer, fid, gt, stream, picks)):
                    rows[c].append(v)
            want[tile] = want.get(tile, b"") + wire.len_delimited(3, codec.encode_layer_from_streams(
                layer, [
                    (f, {k: (_KERNEL_COLS[k][0], _KERNEL_COLS[k][2][j]) for k, j in picks},
                     g, np.asarray(st, np.uint32))
                    for f, picks, g, st in feats
                ]
            ))
    # one framed value table per key, laid end to end; pairs row by row
    tables, base = [], {}
    for k in keys:
        tag, typ, pool = _KERNEL_COLS[k]
        base[k] = sum(len(off) - 1 for _, off in tables)
        tables.append(codec.frame_values_vec(tag, pa.array(pool, typ)))
    pair_k = [keys.index(k) for picks in rows["meta"] for k, _ in picks]
    pair_v = [base[k] + j for picks in rows["meta"] for k, j in picks]
    meta = codec.MetaPairs(
        list(keys), np.concatenate([[0], np.cumsum([len(m) for m in rows["meta"]])]).astype(np.int64),
        np.asarray(pair_k, np.int64), np.asarray(pair_v, np.int64),
        *codec.concat_value_tables(tables),
    )
    lnames = ["a", "b", "c"]
    lens = [len(st) for st in rows["stream"]]
    mvts, starts, _ = codec.encode_multi_tile_batch(
        *(np.asarray(rows[c], np.int64) for c in ("tz", "tx", "ty")),
        np.array([lnames.index(l) for l in rows["layer"]], np.int64), lnames,
        np.asarray(rows["fid"], np.int64), np.asarray(rows["gt"], np.int64),
        np.concatenate([np.asarray(st, np.uint32) for st in rows["stream"]]),
        np.concatenate([[0], np.cumsum(lens)]).astype(np.int64), meta,
    )
    got = {(9, rows["tx"][i], 3): m for i, m in zip(starts.tolist(), mvts)}
    assert got.keys() == want.keys()
    for tile in want:
        assert got[tile] == want[tile], tile


def test_float_value_out_of_float32_range_raises():
    """A FLOAT value no float32 can hold is a ValueError, as in the scalar
    encoder, not a silent infinity."""
    with pytest.raises(ValueError, match="float32 range"):
        codec.frame_values_vec(codec.VAL_FLOAT, pa.array([1.0, 1e300]))
    with pytest.raises(OverflowError):
        codec._encode_value(codec.VAL_FLOAT, 1e300)


def _struct_batch(entries):
    """One point feature in tile 4/5/6 whose struct ``meta`` is ``entries``."""
    return pa.record_batch({
        "tile_z": pa.array([4], pa.int32()), "tile_x": pa.array([5], pa.int32()),
        "tile_y": pa.array([6], pa.int32()), "layer": pa.array(["l"]),
        "geom_type": pa.array([1], pa.int32()), "feature_id": pa.array([1], pa.int64()),
        "meta": pa.array([entries], META_T),
        "geom_cmds": pa.array([[9, 2, 2]], pa.list_(pa.int64())),
    })


@pytest.mark.parametrize("entry,what", [
    ({"key": "k", "tag": 9, "s": "x"}, "unknown tag"),
    ({"key": "k", "tag": None, "s": "x"}, "NULL or unknown tag"),
    ({"key": None, "tag": codec.VAL_STRING, "s": "x"}, "NULL key"),
    ({"key": "k", "tag": codec.VAL_DOUBLE}, "NULL 'd' under tag 3"),
    ({"key": "k", "tag": codec.VAL_STRING}, "NULL 's' under tag 1"),
    ({"key": "k", "tag": codec.VAL_INT}, "NULL 'i' under tag 4"),
    ({"key": "k", "tag": codec.VAL_BOOL}, "NULL 'b' under tag 7"),
    (None, "NULL entry"),
], ids=["unknown-tag", "null-tag", "null-key", "null-d", "null-s", "null-i", "null-b", "null-entry"])
def test_malformed_struct_meta_names_column_and_tile(entry, what):
    """A struct ``meta`` entry the encoder cannot write is a ValueError
    naming the column and the tile, never a silent drop or a bare
    AttributeError/TypeError."""
    good = {"key": "a", "tag": codec.VAL_STRING, "s": "ok"}
    with pytest.raises(ValueError, match=rf"column 'meta' .*{what}.* tile z/x/y 4/5/6"):
        list(_encode_stream(iter([_struct_batch([good, entry])])))
