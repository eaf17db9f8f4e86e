"""Harness-tool guarantees the benchmarks rely on.

make_sf.build's atomicity is load-bearing for bench.py's sf1 tier:
bench_sf1 treats ``os.path.isdir(sf1_dir)`` as "tier complete", so a
partial directory left by a crashed or replica-count-changed build
would be silently benchmarked forever after (round-5 review finding).
These tests pin the invariant ``out_dir exists => tier complete`` on
the tiny driver sf0.001 tables (~2 s per build).  The design-point
tool gets a tiny end-to-end run, so a ``CrawlConfig`` change that
breaks it fails here rather than at its next full-size run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

from tools import make_sf

SRC = "/root/testdata/sf0.001"


def _rows(path: str, tbl: str) -> int:
    return duckdb.sql(
        f"SELECT count(*) FROM '{path}/{tbl}.parquet/*.parquet'"
    ).fetchone()[0]


def test_make_sf_rebuild_replaces_atomically(tmp_path):
    out = str(tmp_path / "tier")
    make_sf.build(out, replicas=2, src=SRC)
    src_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SRC}/documents.parquet'"
    ).fetchone()[0]
    assert _rows(out, "documents") == 2 * src_docs
    assert len(os.listdir(f"{out}/documents.parquet")) == 2

    # rebuild with a DIFFERENT replica count: the old tier must be
    # replaced wholesale — exactly 3 parts, exactly 3x rows, no stale
    # part-0000/0001 from the 2-replica run surviving into the read
    make_sf.build(out, replicas=3, src=SRC)
    assert _rows(out, "documents") == 3 * src_docs
    assert len(os.listdir(f"{out}/documents.parquet")) == 3
    assert _rows(out, "events") == 3 * duckdb.sql(
        f"SELECT count(*) FROM '{SRC}/events.parquet'"
    ).fetchone()[0]
    # keys stay collision-free across replicas (strided, dense-packed)
    assert duckdb.sql(
        f"SELECT count(DISTINCT doc_id) FROM "
        f"'{out}/documents.parquet/*.parquet'"
    ).fetchone()[0] == 3 * src_docs


def test_make_sf_crashed_build_leaves_no_partial_tier(tmp_path, monkeypatch):
    out = str(tmp_path / "tier")

    # embeddings are written LAST — failing there proves nothing lands
    # in out_dir even after every other table was fully written
    def boom(*a, **k):
        raise RuntimeError("simulated crash mid-build")

    monkeypatch.setattr(make_sf.pq, "write_table", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        make_sf.build(out, replicas=2, src=SRC)
    assert not os.path.isdir(out)  # bench_sf1 would rebuild, not skip

    # and a crash during a REBUILD must leave the previous complete
    # tier untouched rather than half-replaced
    monkeypatch.undo()
    make_sf.build(out, replicas=2, src=SRC)
    monkeypatch.setattr(make_sf.pq, "write_table", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        make_sf.build(out, replicas=3, src=SRC)
    assert len(os.listdir(f"{out}/documents.parquet")) == 2


def test_designpoint_run_smoke(tmp_path):
    """tools/designpoint_run.py end to end at a tiny size (100k seen
    keys, 2k frontier rows, one round) in its own process: its one JSON
    line reports a seen table grown by exactly the round's n_new, with
    the bloom prefilter engaged by its default threshold."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scale_root = tmp_path / "scale"
    scale_root.mkdir()
    env = {
        **os.environ,
        "TC_SCALE_ROOT": str(scale_root),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    }
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "designpoint_run.py"),
         "100000", "2000", "1"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["metric"] == "designpoint_phase_walls"
    assert out["crossovers"]["bloom_engaged"]
    (rnd,) = out["per_round"]
    assert rnd["n_fetched"] > 0 and rnd["n_new"] > 0
    assert rnd["n_seen_after"] == 100_000 + rnd["n_new"]
    assert rnd["bloom_capacity"] is not None  # the round built the bloom
    assert os.listdir(scale_root) == []  # the tool removed its crawl root
