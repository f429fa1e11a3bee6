"""Self-test of the benchmark's input generator (no Spark needed):

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import collections
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _shape(root: str) -> dict:
    """Everything about the inputs that must not depend on the seed."""
    part = pq.read_table(os.path.join(root, "part.parquet"))
    files = gen.lake_files(root)
    rows = collections.Counter()
    for kind, path in files:
        body = gen.read_op(path)
        rows[kind] += 1 if kind == "delete" else sum(len(v) for v in body.values())
    return {
        "part_schema": part.schema,
        "part_rows": part.num_rows,
        "part_keys": sorted(part.column("p_partkey").to_pylist()),
        "ops": collections.Counter(kind for kind, _ in files),
        "rows": rows,
    }


def test_same_seed_gives_identical_bytes(tmp_path):
    a = gen.write_inputs(str(tmp_path / "a"), 7)
    b = gen.write_inputs(str(tmp_path / "b"), 7)
    assert a == b
    assert gen.inputs_digest(str(tmp_path / "a")) == a


def test_other_seed_gives_same_shapes(tmp_path):
    a = gen.write_inputs(str(tmp_path / "a"), 7)
    b = gen.write_inputs(str(tmp_path / "b"), 8)
    assert a != b
    assert _shape(str(tmp_path / "a")) == _shape(str(tmp_path / "b"))


def test_every_seed_gives_full_feeds():
    """Appends and merges always carry a whole feed, whatever the order of
    the first cycle."""
    for seed in range(8):
        for op in gen.lake_ops(seed):
            if op["kind"] != "delete":
                assert sum(len(v) for v in op["body"].values()) == gen.FEED_ROWS


def test_part_keys_are_a_bijection():
    keys = [r["p_partkey"] for r in gen.part_rows(3)]
    assert sorted(keys) == list(range(gen.PART_ROWS))
    assert keys != sorted(keys)


def test_model_replays_the_sequence(tmp_path):
    """Appends add rows, merges upsert by name, deletes drop a name range;
    the model's Query 2 agrees with a direct count over its rows."""
    root = str(tmp_path)
    gen.write_inputs(root, 5)
    model = gen.LakeModel()
    for kind, path in gen.lake_files(root)[:12]:
        before = dict(model.rows)
        body = gen.read_op(path)
        model.apply(kind, body)
        if kind == "delete":
            assert all(body["lo"] <= n <= body["hi"] for n in set(before) - set(model.rows))
            assert not any(body["lo"] <= n <= body["hi"] for n in model.rows)
        else:
            assert set(before) <= set(model.rows)
    counts = collections.Counter(r[6] for r in model.rows.values() if r[6] is not None)
    for area, n, *_ in model.q02():
        assert counts[area] == n
