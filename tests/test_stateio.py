"""The driver-side state IO seam (SURVEY §1.2's adapter promise): the
scheduler/maintenance loops must perform every driver-side FS mutation
through cfg.io, so a real deployment can swap in an HDFS/S3/Iceberg
implementation without touching the loop."""

import fnmatch
import os

import pytest
from pyspark.sql import functions as F

from cola_spark.stateio import LocalStateIO, StateIO


class RecordingStateIO(LocalStateIO):
    """Delegates to POSIX but records every call — the 'fake remote
    store' proof: if an operation bypassed the seam, it would not
    appear here."""

    def __init__(self):
        self.calls = []

    def _rec(self, op, *args):
        self.calls.append((op, *args))

    def exists(self, path):
        self._rec("exists", path)
        return super().exists(path)

    def makedirs(self, path):
        self._rec("makedirs", path)
        return super().makedirs(path)

    def read_text(self, path):
        self._rec("read_text", path)
        return super().read_text(path)

    def write_text_atomic(self, path, data):
        self._rec("write_text_atomic", path)
        return super().write_text_atomic(path, data)

    def list_dirs(self, pattern):
        self._rec("list_dirs", pattern)
        return super().list_dirs(pattern)

    def remove_dir(self, path):
        self._rec("remove_dir", path)
        return super().remove_dir(path)


class InMemoryStateIO(StateIO):
    """A purely in-memory text/metadata store — no POSIX at all. Only
    supports what the manifest protocol needs; used to prove the
    manifest commit/read/resume logic runs entirely through the seam."""

    def __init__(self):
        self.files: dict[str, str] = {}

    def exists(self, path):
        return path in self.files

    def makedirs(self, path):
        pass

    def read_text(self, path):
        return self.files[path]

    def write_text_atomic(self, path, data):
        self.files[path] = data  # dict assignment is atomic

    def list_dirs(self, pattern):
        return sorted(p for p in self.files if fnmatch.fnmatch(p, pattern))

    def remove_dir(self, path):
        for p in [p for p in self.files if p.startswith(path)]:
            del self.files[p]


def test_manifest_protocol_runs_on_pure_inmemory_store():
    """Manifest commit/read/latest_round against a store with no POSIX
    backing and a non-filesystem workdir URI."""
    from cola_spark.plans.scheduler import (
        CrawlConfig,
        _commit_manifest,
        _manifest,
        latest_round,
    )

    io = InMemoryStateIO()
    cfg = CrawlConfig(workdir="mem://crawl/job1", io=io)
    assert _manifest(cfg) is None and latest_round(cfg) is None
    _commit_manifest(cfg, 0, {"round": 0, "scheduled": 10, "stopped": False},
                     {"seen": ["delta=0"], "filters": []})
    _commit_manifest(cfg, 1, {"round": 1, "scheduled": 4, "stopped": True},
                     {"seen": ["delta=0", "delta=1"], "filters": []})
    assert latest_round(cfg) == 1
    m = _manifest(cfg)
    assert m["stats"]["stopped"] is True
    assert m["seen"] == ["delta=0", "delta=1"] and m["filters"] == []
    assert [h["round"] for h in m["history"]] == [0, 1]
    # nothing escaped to the real filesystem
    assert not os.path.exists("mem:")


def test_crawl_and_maintenance_route_all_fs_ops_through_seam(spark, tmp_path):
    """End-to-end: a short crawl + resume + compaction + vacuum with a
    recording seam. Every driver-side FS operation class must appear in
    the recorded calls, and the results must match the default-seam
    behavior (the seam is a pass-through, not a semantic change)."""
    from cola_spark.plans.maintenance import compact_seen, vacuum_old_state
    from cola_spark.plans.scheduler import CrawlConfig, latest_round, run_crawl
    from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_images, gen_robots

    io = RecordingStateIO()
    cfg = CrawlConfig(
        workdir=str(tmp_path / "seam"), n_images=30, pages_per_host=20,
        max_rounds=3, decode=False, io=io,
    )
    seeds = gen_frontier_seeds(spark, 200, n_hosts=6, pages_per_host=20)
    robots, budgets = gen_robots(spark, 6), gen_budgets(spark, 6)
    log = run_crawl(spark, seeds, robots, budgets, gen_images(spark, 30), cfg)
    n = log.count()
    assert n > 0 and latest_round(cfg) is not None

    removed = compact_seen(spark, cfg)
    assert removed >= 2  # one delta dir per round folded
    vacuum_old_state(cfg, keep_last=1)

    ops = {c[0] for c in io.calls}
    assert {"exists", "makedirs", "read_text", "write_text_atomic",
            "list_dirs", "remove_dir"} <= ops
    # resume through the seam: re-invoking returns the committed log
    log2 = run_crawl(spark, seeds, robots, budgets, gen_images(spark, 30), cfg,
                     resume=True)
    assert log2.count() == n


# ------------------------- object-store-shaped backend (VERDICT r3 #8)


def test_objectstore_contracts(tmp_path):
    """The S3-shaped semantics themselves: no empty directories, PUT
    creates prefixes, prefix listing, delete by prefix."""
    from cola_spark.stateio import ObjectStoreStateIO

    io = ObjectStoreStateIO()
    root = str(tmp_path / "store")

    # no-op makedirs; an empty "directory" does not exist
    io.makedirs(f"{root}/a")
    assert not io.exists(f"{root}/a")
    # PUT creates every prefix
    io.write_text_atomic(f"{root}/a/b/obj.json", "{}")
    assert io.exists(f"{root}/a/b/obj.json") and io.exists(f"{root}/a")
    # prefix listing reconstructs common prefixes at the pattern depth
    io.write_text_atomic(f"{root}/seen/delta=0/part-0", "x")
    io.write_text_atomic(f"{root}/seen/delta=1/part-0", "y")
    assert io.list_dirs(f"{root}/seen/delta=*") == [
        f"{root}/seen/delta=0", f"{root}/seen/delta=1",
    ]
    # remove_dir deletes by prefix; missing paths are not an error
    io.remove_dir(f"{root}/seen/delta=0")
    io.remove_dir(f"{root}/never/existed")
    assert io.list_dirs(f"{root}/seen/delta=*") == [f"{root}/seen/delta=1"]


def test_objectstore_inflight_intermediates_invisible(tmp_path):
    """A crash mid-write must not leave a key readers treat as data.
    In-flight intermediates are dot-prefixed, so a leftover is
    invisible to exists/list_dirs/_objects_under (and to Spark parquet
    readers, which skip '.' files); remove_dir still sweeps it."""
    import os as _os

    from cola_spark.stateio import ObjectStoreStateIO

    io = ObjectStoreStateIO()
    root = str(tmp_path / "store2")
    # simulate a crash: a truncated hidden intermediate is the ONLY key
    crash_dir = f"{root}/seen/compacted=0"
    _os.makedirs(crash_dir)
    leftover = io._hidden_tmp(f"{crash_dir}/part-1")
    with open(leftover, "w") as f:
        f.write("trunc")
    assert not io.exists(crash_dir), "hidden tmp must not make the dir exist"
    assert io.list_dirs(f"{root}/seen/compacted=*") == []
    assert io._objects_under(crash_dir) == []
    # a later write beside it succeeds through its own hidden tmp, and
    # the directory holds exactly the real objects
    io.write_text_atomic(f"{crash_dir}/part-0", "good")
    assert io.read_text(f"{crash_dir}/part-0") == "good"
    assert io._objects_under(crash_dir) == [f"{crash_dir}/part-0"]
    # cleanup sweeps the orphan too
    io.remove_dir(crash_dir)
    assert not _os.path.exists(leftover)


def test_crawl_resume_and_compaction_on_objectstore(spark, tmp_path):
    """The full scheduler protocol under object-store semantics: run →
    kill → resume reproduces the straight run's log; compaction's
    manifest flip folds the seen deltas; vacuum leaves the resumable
    tail — all with no-op makedirs and prefix-only listing."""
    from cola_spark.plans.maintenance import compact_seen, vacuum_old_state
    from cola_spark.plans.scheduler import CrawlConfig, latest_round, run_crawl
    from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_images, gen_robots
    from cola_spark.stateio import ObjectStoreStateIO

    seeds = gen_frontier_seeds(spark, 200, n_hosts=6, pages_per_host=20)
    robots, budgets = gen_robots(spark, 6), gen_budgets(spark, 6)
    images = gen_images(spark, 30)

    def cfg_for(wd, max_rounds):
        return CrawlConfig(
            workdir=wd, n_images=30, pages_per_host=20, max_rounds=max_rounds,
            decode=False, io=ObjectStoreStateIO(),
        )

    full_cfg = cfg_for(str(tmp_path / "full"), 3)
    full = [
        (r.round, r.host, r.seq, r.url_canon)
        for r in run_crawl(spark, seeds, robots, budgets, images, full_cfg)
        .orderBy("global_rank").collect()
    ]
    assert full

    cfg = cfg_for(str(tmp_path / "resumed"), 1)
    run_crawl(spark, seeds, robots, budgets, images, cfg)
    assert latest_round(cfg) == 0
    cfg.max_rounds = 3
    resumed = [
        (r.round, r.host, r.seq, r.url_canon)
        for r in run_crawl(spark, seeds, robots, budgets, images, cfg, resume=True)
        .orderBy("global_rank").collect()
    ]
    assert resumed == full

    removed = compact_seen(spark, cfg)
    assert removed >= 2
    vacuum_old_state(cfg, keep_last=1)
    # the compacted seen snapshot is readable and the crawl state intact
    assert latest_round(cfg) == 2
