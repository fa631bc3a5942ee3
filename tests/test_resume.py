"""Checkpoint/lineage/resume idempotency (SURVEY.md §4.3, §5.2.4)."""

from __future__ import annotations

import json
import os
import shutil

from bran_spark.plans.pipeline import Pipeline, PipelineConfig


def _run(spark, fx_dir, root):
    cfg = PipelineConfig(fixture_dir=fx_dir, checkpoint_root=root, score_buckets=4)
    return Pipeline(spark, cfg).run(evaluate=False)


def test_kill_and_rerun_idempotent(spark, fx_dir, tmp_path):
    root = str(tmp_path / "ck")
    r1 = _run(spark, fx_dir, root)

    # simulated kill: lose half the score buckets and all downstream tables
    for b in (1, 3):
        shutil.rmtree(f"{root}/pair_scores/buckets/bucket-{b}")
    shutil.rmtree(f"{root}/triples")
    shutil.rmtree(f"{root}/edges")

    r2 = _run(spark, fx_dir, root)
    for k in ("mentions", "pair_scores", "triples", "edges"):
        assert r1[k] == r2[k], k


def test_manifests_carry_lineage_and_counters(spark, fx_dir, tmp_path):
    root = str(tmp_path / "ck")
    r = _run(spark, fx_dir, root)
    man = json.load(open(f"{root}/triples/manifest-0.json"))
    assert man["rows"] == r["triples"]
    assert man["stage"] and man["config_hash"]
    assert man["n_files"] >= 1 and sum(man["partition_counts"].values()) == man["rows"]
    # bucket manifests for the expensive stage
    buckets = os.listdir(f"{root}/pair_scores/buckets")
    assert len([b for b in buckets if b.startswith("bucket-")]) == 4
    bman = json.load(open(f"{root}/pair_scores/buckets/bucket-0/_MANIFEST.json"))
    assert bman["rows"] >= 0 and bman["stage"] == "encode+score"


def test_resume_skips_committed_stages(spark, fx_dir, tmp_path):
    """Second run must not write new snapshots (pure read path)."""
    root = str(tmp_path / "ck")
    _run(spark, fx_dir, root)
    snap_before = open(f"{root}/triples/_current").read()
    _run(spark, fx_dir, root)
    assert open(f"{root}/triples/_current").read() == snap_before


def test_resume_invalidates_on_config_change(spark, fx_dir, tmp_path):
    """Rerunning against the same checkpoint_root with a CHANGED config must
    recompute the affected stages, not silently serve stale tables — and a
    theta change must reuse the expensive committed score buckets (theta
    gates downstream of scoring)."""
    root = str(tmp_path / "ck")
    cfg1 = PipelineConfig(fixture_dir=fx_dir, checkpoint_root=root,
                          score_buckets=4, theta=0.0)
    r1 = Pipeline(spark, cfg1).run(evaluate=False)
    score_manifest = f"{root}/pair_scores/buckets/bucket-0/_MANIFEST.json"
    score_mtime = os.path.getmtime(score_manifest)

    # theta change: triples/edges recompute (new snapshot), scores reused
    cfg2 = PipelineConfig(fixture_dir=fx_dir, checkpoint_root=root,
                          score_buckets=4, theta=1.5)
    r2 = Pipeline(spark, cfg2).run(evaluate=False)
    assert open(f"{root}/triples/_current").read() == "1"
    assert r2["triples"] < r1["triples"]          # stricter threshold
    assert os.path.getmtime(score_manifest) == score_mtime  # buckets reused

    # max_tokens change: scores recompute too
    cfg3 = PipelineConfig(fixture_dir=fx_dir, checkpoint_root=root,
                          score_buckets=4, theta=1.5, max_tokens=64)
    Pipeline(spark, cfg3).run(evaluate=False)
    assert os.path.getmtime(score_manifest) > score_mtime


def test_time_travel_read_returns_past_snapshot(spark, tmp_path):
    """S7 lineage: read(table, snap=N) reproduces snapshot N byte-for-byte
    after later snapshots supersede it (the local-manifest analog of
    Iceberg snapshot-id time travel, same call shape)."""
    from bran_spark.sources.tableio import ManifestParquetTableIO

    io = ManifestParquetTableIO(str(tmp_path / "tt"))
    v0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    v1 = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "id long, v string")
    s0 = io.write(v0, "tbl", stage="s")
    s1 = io.write(v1, "tbl", stage="s")
    assert (s0, s1) == (0, 1)
    assert io.current_snapshot("tbl") == 1
    old = {tuple(r) for r in io.read(spark, "tbl", snap=0).collect()}
    new = {tuple(r) for r in io.read(spark, "tbl").collect()}
    assert old == {(1, "a"), (2, "b")}
    assert new == {(1, "a"), (2, "B"), (3, "c")}
    # the superseded snapshot's manifest is still addressable (lineage)
    assert io.manifest("tbl", 0)["rows"] == 2


def test_expire_snapshots_keeps_recent_and_current(spark, tmp_path):
    from bran_spark.sources.tableio import ManifestParquetTableIO

    io = ManifestParquetTableIO(str(tmp_path / "gc"))
    for i in range(4):
        io.write(
            spark.createDataFrame([(i,)], "v long"), "tbl", stage="s"
        )
    assert io.current_snapshot("tbl") == 3
    removed = io.expire_snapshots("tbl", keep_last=2)
    assert removed == [0, 1]
    # survivors still readable; expired gone
    assert {r["v"] for r in io.read(spark, "tbl", snap=3).collect()} == {3}
    assert {r["v"] for r in io.read(spark, "tbl", snap=2).collect()} == {2}
    import pytest as _pytest

    with _pytest.raises(Exception):
        io.read(spark, "tbl", snap=0).collect()
    assert io.manifest("tbl", 0) is None
    assert io.manifest("tbl", 3)["rows"] == 1


def test_iceberg_tableio_contract(spark):
    """Pins the IcebergTableIO call sequence without the runtime jar
    (unavailable offline — SURVEY.md §4.3): write = writeTo(catalog.table)
    → partitionedBy(cols) → createOrReplace() → snapshot id from the
    .snapshots metadata table; read = snapshot-id option + table(). A
    backend flip on a real cluster exercises exactly these calls."""
    from unittest.mock import MagicMock

    from bran_spark.sources.tableio import IcebergTableIO

    io = IcebergTableIO(catalog="cat")
    df = MagicMock()
    writer = MagicMock()
    df.writeTo.return_value = writer
    writer.partitionedBy.return_value = writer
    df.sparkSession.sql.return_value.head.return_value = [42]

    snap = io.write(df, "triples", stage="triples", partition_by=["pred"])
    df.writeTo.assert_called_once_with("cat.triples")
    writer.partitionedBy.assert_called_once()     # partition spec forwarded
    writer.createOrReplace.assert_called_once()   # V2 atomic commit
    sql = df.sparkSession.sql.call_args[0][0]
    assert "cat.triples.snapshots" in sql and "committed_at" in sql
    assert snap == 42

    # unpartitioned write skips partitionedBy
    df2 = MagicMock()
    w2 = MagicMock()
    df2.writeTo.return_value = w2
    df2.sparkSession.sql.return_value.head.return_value = [7]
    io.write(df2, "mentions", stage="mentions")
    w2.partitionedBy.assert_not_called()
    w2.createOrReplace.assert_called_once()

    # read path: time-travel via snapshot-id option, else current table
    sm = MagicMock()
    io.read(sm, "triples", snap=7)
    sm.read.option.assert_called_once_with("snapshot-id", 7)
    sm.read.option.return_value.table.assert_called_once_with("cat.triples")
    sm2 = MagicMock()
    io.read(sm2, "triples")
    sm2.read.table.assert_called_once_with("cat.triples")


def test_config_change_invalidates_triples_and_buckets(spark, fx_dir, tmp_path):
    """The resume gates must hash EVERY config determinant: rerunning the
    same checkpoint_root with a changed max_tokens recomputes the score
    buckets AND the triples (the old theta-only triples gate served stale
    triples over freshly recomputed scores)."""
    import os

    from bran_spark.plans.pipeline import Pipeline, PipelineConfig

    docs = (
        spark.read.parquet(os.path.join(fx_dir, "documents_interleaved.parquet"))
        .orderBy("doc_id").limit(50)
    )
    root = str(tmp_path / "ck")

    def run(max_tokens):
        cfg = PipelineConfig(
            fixture_dir=fx_dir, checkpoint_root=root,
            max_tokens=max_tokens, score_buckets=2,
        )
        p = Pipeline(spark, cfg, docs_df=docs)
        p.run(resume=True, evaluate=False)
        return p

    p1 = run(512)
    snap1 = p1.io.current_snapshot("triples")
    cfg512 = {"max_tokens": 512, "emit": "pairs", "score_buckets": 2}
    assert p1.io.committed_buckets("pair_scores", cfg512) == {0, 1}

    p2 = run(64)
    # triples re-committed (new snapshot), old-config buckets invisible to
    # the new config's view, new-config buckets committed
    assert p2.io.current_snapshot("triples") == snap1 + 1
    cfg64 = {"max_tokens": 64, "emit": "pairs", "score_buckets": 2}
    assert p2.io.committed_buckets("pair_scores", cfg64) == {0, 1}
    assert p2.io.exists_valid(
        "triples", {"theta": 0.0, "max_tokens": 64, "emit": "pairs"}
    )
    assert not p2.io.exists_valid(
        "triples", {"theta": 0.0, "max_tokens": 512, "emit": "pairs"}
    )

    # a THIRD run with the same config is a pure resume: nothing advances
    p3 = run(64)
    assert p3.io.current_snapshot("triples") == snap1 + 1
