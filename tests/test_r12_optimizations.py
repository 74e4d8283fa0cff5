"""Round-12 optimization internals.

Pins the behavior-preserving mechanisms of the second optimization
round: the block-local union-find merge inside resolve_entities (labels
must equal whole-graph min-id closure, independent of edge order), the
recursive parquet scan-unit listing (ADVICE r11: hive-partitioned
layouts), and the scratch-dir reclamation's tolerance of corrupt pid
entries (ADVICE r11: OverflowError must not fail a streaming query).
"""

from __future__ import annotations

import os
import random

SF = "/root/testdata/sf0.001"


def test_union_find_block_min_label_any_order():
    from big_data_streaming_spark.operators.entity_resolution import (
        _union_find_block,
    )

    # chain 5-3-9-7 plus pair (2, 4): closure must label the chain with
    # its min (3) and the pair with 2, under EVERY edge permutation
    edges = [
        {"src": 3, "dst": 5},
        {"src": 7, "dst": 9},
        {"src": 5, "dst": 9},
        {"src": 2, "dst": 4},
    ]
    expect = {5: 3, 3: 3, 9: 3, 7: 3, 2: 2, 4: 2}
    rng = random.Random(7)
    for _ in range(24):
        rng.shuffle(edges)
        got = {r["node"]: r["component"] for r in _union_find_block(edges)}
        assert got == expect


def test_union_find_block_matches_brute_force_property():
    from big_data_streaming_spark.operators.entity_resolution import (
        _union_find_block,
    )

    rng = random.Random(42)
    for _trial in range(50):
        n = rng.randint(2, 30)
        edges = [
            {"src": rng.randint(0, n), "dst": rng.randint(0, n)}
            for _ in range(rng.randint(1, 40))
        ]
        got = {r["node"]: r["component"] for r in _union_find_block(edges)}
        # brute-force closure over the touched node set
        nodes = sorted({e["src"] for e in edges} | {e["dst"] for e in edges})
        label = {v: v for v in nodes}
        changed = True
        while changed:
            changed = False
            for e in edges:
                m = min(label[e["src"]], label[e["dst"]])
                for x in (e["src"], e["dst"]):
                    if label[x] != m:
                        label[x] = m
                        changed = True
        # brute force converges to per-component min via repeated sweeps
        assert got == label


def test_scan_units_recurses_hive_layout(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_streaming_spark.sources.catalog import _scan_units

    part = tmp_path / "t.parquet" / "k=1"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2, 3]}), part / "part-0.parquet")
    total_bytes, total_rgs = _scan_units(spark, str(tmp_path / "t.parquet"))
    assert total_bytes > 0 and total_rgs >= 1


def test_pid_scratch_survives_corrupt_pid_entry(tmp_path, monkeypatch):
    import tempfile

    from big_data_streaming_spark.sources.staging import pid_scratch_dirs

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    base = tmp_path / "bdss_stream_stage"
    base.mkdir()
    # a "pid" far beyond pid_t: os.kill raises OverflowError — the entry
    # must be kept and the call must not raise (ADVICE r11)
    corrupt = base / f"stream_topk_pid{10**25}_cafecafe00"
    corrupt.mkdir()
    out_dir, ckpt_dir = pid_scratch_dirs(
        "stream_topk", "/root/testdata/sf0.001"
    )
    assert corrupt.exists(), "corrupt-pid sibling must be kept, not crash"
    assert os.path.isdir(out_dir) and os.path.isdir(ckpt_dir)
