"""Model-based (hypothesis stateful) test of the icelite snapshot
layer against a trivial reference model.

The snapshot layer is the crawl's single source of truth — every
exactly-once / crash-recovery argument in SURVEY §4.2 reduces to the
invariants checked here, so they are pinned under RANDOM interleavings
of the full maintenance surface (append/replace commits, epoch
commits, expiry, compaction-free recover, crash debris) rather than
only the hand-written scenarios:

- the LATEST pointer, the manifest chain, and the bytes on disk agree
  (row_count == sum of parquet footer rows over existing files);
- no surviving manifest ever references a deleted file — across
  expire_snapshots (which deletes files) and recover() (which sweeps
  debris dirs);
- crash debris (claimed-but-unpublished manifests, written-but-never-
  committed data dirs) blocks nothing after recover() and corrupts
  nothing before it;
- the streaming replay guard's answer equals the true max committed
  epoch after ANY interleaving — including the expiry+maintenance
  sequences that round 4's review found could erase the evidence.

Pure filesystem + pyarrow: no SparkSession, so the state machine runs
hundreds of steps in seconds (commit_files is the zero-copy path; the
DataFrame path shares claim/publish/recover/expire with it).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import settings
from hypothesis import strategies as hst
from hypothesis.stateful import (
    RuleBasedStateMachine,
    invariant,
    precondition,
    rule,
)

from topicalcrawler_spark import icelite
from topicalcrawler_spark.streaming import _last_committed_epoch


def _write_part(data_dir: str, n_rows: int) -> None:
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(
        pa.table({"v": pa.array(range(n_rows), type=pa.int64())}),
        os.path.join(data_dir, "part-00000-model.parquet"),
    )


def _unreferenced_dirs(table_dir: str) -> set[str]:
    """The ``data/snap-*`` dirs that no surviving manifest names as its
    ``data_dir`` and none lists a file in."""
    live = icelite.history(table_dir)
    keep = {os.path.normpath(m["data_dir"]) for m in live}
    keep |= {os.path.dirname(f) for m in live for f in m["files"]}
    dirs = glob.glob(os.path.join(table_dir, "data", "snap-*"))
    return {os.path.normpath(d) for d in dirs} - keep


def test_expiry_leaves_no_unreferenced_data_dir(tmp_path):
    """A replace, then 24 appends with a replace and
    expire_snapshots(keep_last=3) after every 8th (the crawl's seen
    compaction cadence).  An append snapshot's files outlive it; when a
    later expiry deletes them, their dir must go with them instead of
    staying behind, holding only writer sidecars, until a recover()."""
    t = str(tmp_path / "tbl")

    def commit(round_n, n, mode):
        d = icelite.next_data_dir(t)
        _write_part(d, n)
        open(os.path.join(d, "_SUCCESS"), "w").close()
        icelite.commit_files(t, d, round_n=round_n, row_count=n, mode=mode)

    commit(0, 3, "replace")
    for r in range(1, 25):
        commit(r, 2, "append")
        if r % 8 == 0:
            commit(r, 5, "replace")
            icelite.expire_snapshots(t, keep_last=3)
            assert not _unreferenced_dirs(t), f"round {r}"
    assert icelite.read_manifest(t, icelite.latest_snapshot_id(t))[
        "row_count"
    ] == 5


class IceliteMachine(RuleBasedStateMachine):
    def __init__(self):
        super().__init__()
        self.tmp = tempfile.mkdtemp(prefix="icelite-model-")
        self.t = os.path.join(self.tmp, "tbl")
        self.rows = 0  # rows the LATEST snapshot must expose
        self.latest: int | None = None
        self.orphan = False  # claimed-but-unpublished manifest pending
        self.max_epoch: int | None = None
        self.n_commits = 0
        self.debris: set[str] = set()  # dirs left for recover() to sweep

    def teardown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    # ---------------------------------------------------- operations

    @precondition(lambda self: not self.orphan)
    @rule(n=hst.integers(0, 5), epoch=hst.booleans())
    def append(self, n, epoch):
        d = icelite.next_data_dir(self.t)
        _write_part(d, n)
        meta = None
        if epoch:
            e = (self.max_epoch if self.max_epoch is not None else -1) + 1
            meta = {"epoch": e}
            self.max_epoch = e
        self.latest = icelite.commit_files(
            self.t, d, round_n=self.n_commits, row_count=n, meta=meta
        )
        self.rows += n
        self.n_commits += 1

    @precondition(lambda self: not self.orphan)
    @rule(n=hst.integers(0, 5))
    def replace(self, n):
        # epoch-less maintenance replace — the shape that used to
        # disable the replay guard (round-4 review finding)
        d = icelite.next_data_dir(self.t)
        _write_part(d, n)
        self.latest = icelite.commit_files(
            self.t, d, round_n=self.n_commits, row_count=n, mode="replace"
        )
        self.rows = n
        self.n_commits += 1

    @precondition(lambda self: not self.orphan)
    @rule()
    def crash_claimed_unpublished(self):
        # a writer died between the manifest claim and the pointer
        # advance; until recover() every new commit must conflict
        sid = (self.latest or 0) + 1
        icelite._claim_manifest(
            {
                "snapshot_id": sid,
                "parent_id": self.latest,
                "files": [],
                "row_count": 0,
                "round": 0,
                "meta": {},
                "data_dir": os.path.join(self.t, "data", "na"),
            },
            icelite._manifest_path(self.t, sid),
        )
        self.orphan = True

    @rule(n=hst.integers(0, 3))
    def crash_debris_data_dir(self, n):
        # a writer died after its per-attempt write, before any claim
        d = icelite.next_data_dir(self.t)
        _write_part(d, n)
        self.debris.add(os.path.normpath(d))

    @precondition(lambda self: self.orphan)
    @rule()
    def commit_blocked_by_orphan(self):
        d = icelite.next_data_dir(self.t)
        _write_part(d, 1)
        self.debris.add(os.path.normpath(d))
        with pytest.raises(icelite.CommitConflict):
            icelite.commit_files(self.t, d, round_n=0, row_count=1)

    @rule()
    def recover(self):
        removed = icelite.recover(self.t)
        if self.orphan:
            assert removed, "recover() must reclaim the orphan claim"
        self.orphan = False
        self.debris.clear()

    @rule(keep=hst.integers(1, 3))
    def expire(self, keep):
        # deliberately allowed in every state, including the
        # claim-crash window (orphan pending, even with no pointer
        # published yet): maintenance must never corrupt or crash —
        # the orphan has the highest id so expiry always keeps it for
        # recover() to reclaim
        icelite.expire_snapshots(self.t, keep_last=keep)

    # ---------------------------------------------------- invariants

    @invariant()
    def pointer_chain_and_bytes_agree(self):
        assert icelite.latest_snapshot_id(self.t) == self.latest
        if self.latest is None:
            return
        m = icelite.read_manifest(self.t, self.latest)
        assert m["row_count"] == self.rows
        total = 0
        for f in m["files"]:
            assert os.path.exists(f), f"referenced file missing: {f}"
            total += pq.ParquetFile(f).metadata.num_rows
        assert total == self.rows

    @invariant()
    def no_surviving_manifest_dangles(self):
        for m in icelite.history(self.t):
            for f in m["files"]:
                assert os.path.exists(f), (
                    f"snapshot {m['snapshot_id']} references deleted {f}"
                )

    @invariant()
    def every_data_dir_is_referenced_or_debris(self):
        assert _unreferenced_dirs(self.t) <= self.debris

    @invariant()
    def replay_guard_equals_true_max_epoch(self):
        assert _last_committed_epoch(self.t) == self.max_epoch


IceliteModelTest = IceliteMachine.TestCase
IceliteModelTest.settings = settings(
    max_examples=60, stateful_step_count=25, deadline=None
)
