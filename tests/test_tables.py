"""Table-provider seam tests: partitioned writes, partition pruning at the
source (X3), snapshot lineage, snapshot-diff discovery."""

from pyspark.sql import functions as F

from real_time_anomaly_detection_spark import synth, tables


def _full_plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_write_read_snapshot_roundtrip(spark, tmp_path):
    path = str(tmp_path / "clips_tbl")
    cfg = synth.clean_config(n_clips=400, clips_per_partition=100)
    snap1 = tables.write_clips(spark, synth.clips_df(spark, cfg), path)
    assert snap1["n_rows"] == 400 and snap1["parts"] == [0, 1, 2, 3]
    back = tables.read_clips(spark, path)
    assert back.count() == 400
    assert set(r.part_id for r in back.select("part_id").distinct().collect()) == {0, 1, 2, 3}
    snaps = tables.snapshots(spark, path).collect()
    assert len(snaps) == 1 and snaps[0].snapshot_id == snap1["snapshot_id"]


def test_partition_pruning_at_source(spark, tmp_path):
    """A part_id filter must prune partition DIRECTORIES (X3 — the role of
    the reference's B-tree index / hypertable chunks), not scan-and-filter."""
    path = str(tmp_path / "clips_prune")
    cfg = synth.clean_config(n_clips=400, clips_per_partition=100)
    tables.write_clips(spark, synth.clips_df(spark, cfg), path)
    df = tables.read_clips(spark, path).filter(F.col("part_id") == 2)
    plan = _full_plan(df)
    # the filter must appear as a PartitionFilter on the scan node (directory
    # pruning), not as a post-scan Filter; inputFiles() can't evidence this —
    # it lists the relation's files before partition filters apply
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines and any("part_id" in ln for ln in scan_lines), plan
    assert df.count() == 100


def test_snapshot_diff_discovery(spark, tmp_path):
    path = str(tmp_path / "clips_incr")
    cfg = synth.clean_config(n_clips=200, clips_per_partition=100)
    s1 = tables.write_clips(spark, synth.clips_df(spark, cfg), path)
    assert tables.new_parts_since(spark, path, set()) == [0, 1]
    # a second commit adds partitions 2-3; diff vs seen snapshots finds only them
    cfg2 = synth.clean_config(n_clips=400, clips_per_partition=100)
    df2 = synth.clips_df(spark, cfg2).filter(F.col("part_id") >= 2)
    tables.write_clips(spark, df2, path)
    assert tables.new_parts_since(spark, path, {s1["snapshot_id"]}) == [2, 3]
    assert tables.read_clips(spark, path).count() == 400


def test_incremental_validate_prunes_partition_dirs(spark, tmp_path):
    """Resume over the partitioned layout: the pending-partition IN-filter
    must reach the scan as a PartitionFilter, so completed partitions are
    never re-read from disk (T6 + X3 together)."""
    from real_time_anomaly_detection_spark import engine
    from real_time_anomaly_detection_spark import manifest as mf

    path = str(tmp_path / "clips_inc2")
    man = str(tmp_path / "man")
    cfg = synth.clean_config(n_clips=400, clips_per_partition=100)
    tables.write_clips(spark, synth.clips_df(spark, cfg), path)
    clips = tables.read_clips(spark, path)
    vcfg = engine.ValidationConfig(checks=("column_stats", "uniqueness"))
    engine.validate(spark, clips.filter(F.col("part_id") < 2), cfg=vcfg,
                    run_id="r1", manifest_path=man)[0].count()
    spark.catalog.clearCache()

    # the pending set is {2, 3}; the pushed filter must be a partition filter
    manifest = mf.read_manifest(spark, man)
    pend = mf.pending_partitions(
        clips.select("part_id"), manifest, len(vcfg.runnable_constraints())
    )
    pend_ids = sorted(r.part_id for r in pend.collect())
    assert pend_ids == [2, 3]
    subset = clips.filter(F.col("part_id").isin(pend_ids))
    plan = _full_plan(subset)
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines and any("part_id" in ln for ln in scan_lines), plan
    verdicts, _ = engine.incremental_validate(spark, clips, man, cfg=vcfg, run_id="r2")
    v = verdicts.toPandas()
    spark.catalog.clearCache()
    assert set(v.part_id) == {2, 3}


def test_iceberg_gate(spark, tmp_path):
    # no Iceberg runtime in this sandbox: the probe must say so, and forcing
    # the iceberg branch must run REAL DataFrameWriterV2 code that fails at
    # catalog resolution (proving the branch compiles and executes up to the
    # missing runtime), not a placeholder raise
    assert tables.iceberg_available(spark) is False
    cfg = synth.clean_config(n_clips=10, clips_per_partition=10)
    import pytest

    with pytest.raises(Exception) as ei:
        tables.write_clips(
            spark, synth.clips_df(spark, cfg), "no_such_cat.db.clips", use_iceberg=True
        )
    assert "NotImplementedError" not in type(ei.value).__name__


def test_managed_upsert_preserves_layout_and_lineage(spark, tmp_path):
    """ADVICE r2 (high): tables.upsert must merge into path/data partitioned
    by part_id and append a snapshot — NOT flatten the managed layout. After
    an upsert: read_clips works, snapshots grew, new_parts_since sees the
    upserted partitions, and part_id pruning still happens at the source."""
    path = str(tmp_path / "clips_upsert")
    cfg = synth.clean_config(n_clips=400, clips_per_partition=100)
    clips = synth.clips_df(spark, cfg)
    s1 = tables.write_clips(spark, clips, path)

    # update one clip's transcript + insert a brand-new clip in partition 1
    orig = clips.filter(F.col("part_id") == 1).limit(1).collect()[0]
    updated = spark.createDataFrame([{**orig.asDict(), "transcript": "UPDATED"}],
                                    clips.schema)
    newrow = spark.createDataFrame([{**orig.asDict(), "clip_id": "brand-new",
                                     "transcript": "NEW"}], clips.schema)
    s2 = tables.upsert(spark, updated.unionByName(newrow), path, ["clip_id"])

    back = tables.read_clips(spark, path)
    assert back.count() == 401  # one replaced, one inserted
    got = {r.clip_id: r.transcript
           for r in back.filter(F.col("clip_id").isin([orig.clip_id, "brand-new"])).collect()}
    assert got[orig.clip_id] == "UPDATED" and got["brand-new"] == "NEW"
    # lineage intact and grown
    snaps = tables.snapshots(spark, path).collect()
    assert {s.snapshot_id for s in snaps} == {s1["snapshot_id"], s2["snapshot_id"]}
    assert s2["mode"] == "upsert" and s2["n_rows"] == 401
    assert tables.new_parts_since(spark, path, {s1["snapshot_id"]}) == [0, 1, 2, 3]
    # partition pruning (X3) survives the rewrite
    plan = _full_plan(back.filter(F.col("part_id") == 1))
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines and any("part_id" in ln for ln in scan_lines), plan


def test_upsert_refuses_non_managed_dir(spark, tmp_path):
    """A flat parquet dir (no data/ subdir) must raise, not be corrupted."""
    import pytest

    path = str(tmp_path / "flat")
    cfg = synth.clean_config(n_clips=100, clips_per_partition=100)
    synth.clips_df(spark, cfg).write.parquet(path)
    with pytest.raises(ValueError, match="managed"):
        tables.upsert(spark, synth.clips_df(spark, cfg), path, ["clip_id"])


def test_iceberg_merge_sql_contract():
    """The Iceberg backend's MERGE must encode the SAME semantics the parquet
    fallback implements: keyed match, keep-latest with incoming-wins-ties
    (>=), full-row insert for new keys."""
    sql = tables._iceberg_merge_sql(
        "cat.db.clips", "batch_v", ["clip_id", "transcript", "seen_at"],
        ["clip_id"], "seen_at",
    )
    assert "MERGE INTO cat.db.clips t USING batch_v s" in sql
    assert "t.clip_id = s.clip_id" in sql
    assert "s.seen_at >= t.seen_at" in sql  # incoming wins ties
    assert "t.transcript = s.transcript" in sql and "t.clip_id = s.clip_id" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    # no ts column -> unconditional update (always overwrite, like ON CONFLICT)
    sql2 = tables._iceberg_merge_sql("t", "s", ["k", "v"], ["k"], None)
    assert "WHEN MATCHED AND true THEN UPDATE" in sql2
