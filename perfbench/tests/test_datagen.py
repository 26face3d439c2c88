"""Inputs are a function of the scale factor and the seed only."""

import collections
import hashlib

import pyarrow.parquet as pq

import datagen


def _digest(path):
    return hashlib.sha256(pq.read_table(path).to_string(
        show_metadata=False, preview_cols=0).encode()
        + str(pq.read_table(path).to_pylist()).encode()).hexdigest()


def test_fixtures_are_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_fixtures(str(a), 0.001)
    datagen.write_fixtures(str(b), 0.001)
    for t in datagen.TABLES:
        assert _digest(a / f"{t}.parquet") == _digest(b / f"{t}.parquet"), t


def test_cdc_batch_follows_the_seed(tmp_path):
    sf = tmp_path / "sf"
    datagen.write_fixtures(str(sf), 0.01)             # the benchmark's scale
    p1 = datagen.make_cdc_batch(str(tmp_path / "c1"), str(sf), 7)
    p2 = datagen.make_cdc_batch(str(tmp_path / "c2"), str(sf), 7)
    p3 = datagen.make_cdc_batch(str(tmp_path / "c3"), str(sf), 8)
    assert _digest(p1) == _digest(p2)
    assert _digest(p1) != _digest(p3)
    rows = pq.read_table(p1).to_pylist()
    n_orders = datagen.fixture_sizes(0.01)["orders"]
    assert len(rows) == int(n_orders * datagen.BATCH_FRAC)
    ops = collections.Counter(r["op"] for r in rows)
    assert set(ops) == {datagen.OP_INSERT, datagen.OP_UPDATE,
                        datagen.OP_DELETE}
    offsets = [r["offset"] for r in rows]
    assert offsets == sorted(offsets)                   # apply order
    assert len(set(offsets)) < len(offsets)             # shared offsets
    upd = [(r["o_orderkey"], r["offset"]) for r in rows
           if r["op"] == datagen.OP_UPDATE]
    assert len(upd) == len(set(upd))        # no same-key same-offset updates
    hot = collections.Counter(r["o_orderkey"] for r in rows
                              if r["op"] != datagen.OP_INSERT)
    assert hot.most_common(1)[0][1] >= 5                # Zipf skew
    inserted = [r["o_orderkey"] for r in rows if r["op"] == datagen.OP_INSERT]
    assert min(inserted) >= n_orders                    # fresh keys
