"""Resume correctness (SURVEY.md §7.4.5): a run killed after k committed
partition groups, then resumed, must produce byte-identical final tables
to a clean run (the persistent_data/snapshot-checkpoint analog)."""

from __future__ import annotations

import pandas as pd

from stop_sync_osm_atlas_spark.operators.cascade import run_cascade
from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA
from stop_sync_osm_atlas_spark.sources.checkpoint import CheckpointedWriter


def _decisions(spark, fixture_paths, nd_kwargs):
    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    return run_cascade(pairs, neardup_kwargs=nd_kwargs)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.drop(columns=["reasons"])
        .sort_values("image_id")
        .reset_index(drop=True)
    )


def _crash_after(writer, dec, committed):
    """Rebuild the state a crash during promotion leaves: ``committed``
    groups promoted and marked, the others neither — and one of them
    still sitting in the write's tmp dir."""
    import os
    import shutil

    writer.run(dec)
    lost = [g for g in range(writer.n_groups) if g not in committed]
    for g in lost:
        os.remove(writer._marker(g))
        shutil.rmtree(writer._group_dir(g))
    tmp = os.path.join(writer.root, "decisions.tmp", f"_commit_group={lost[0]}")
    dec.limit(5).write.parquet(tmp)


def test_resume_identical_to_clean_run(spark, fixture_paths, nd_kwargs, tmp_path):
    dec = _decisions(spark, fixture_paths, nd_kwargs)

    clean_root = str(tmp_path / "clean")
    w1 = CheckpointedWriter(clean_root, n_groups=4)
    counts1 = w1.run(dec)
    assert set(counts1) == {0, 1, 2, 3}

    # interrupted run: groups 0 and 1 committed, then a crash mid-promotion
    resume_root = str(tmp_path / "resumed")
    _crash_after(CheckpointedWriter(resume_root, n_groups=4), dec, {0, 1})
    w2 = CheckpointedWriter(resume_root, n_groups=4)
    assert w2.committed_groups() == {0, 1}

    # resume: only remaining groups are written
    counts2 = w2.run(dec)
    assert counts2 == {g: counts1[g] for g in (2, 3)}

    a = _canon(w1.read_all(spark).toPandas())
    b = _canon(w2.read_all(spark).toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_resume_guards(spark, fixture_paths, nd_kwargs, tmp_path):
    """Two crash-consistency guards added by the r6 review:
    (a) resuming a root with a DIFFERENT n_groups must refuse — the
    pmod re-grouping would duplicate recomputed rows while markers
    still skip old ones; (b) a tmp dir orphaned by a mid-write crash
    must be invisible to read_all (the old in-place 'group=N.tmp' name
    was discovered as a partition and duplicated the group's rows;
    NOTE an underscore prefix does NOT hide it — Spark keeps
    _-prefixed names containing '=' as partition dirs — hence the tmp
    now lives outside root/decisions entirely)."""
    import os

    import pytest

    dec = _decisions(spark, fixture_paths, nd_kwargs)
    root = str(tmp_path / "guards")
    w = CheckpointedWriter(root, n_groups=2)
    w.run(dec)
    with pytest.raises(ValueError, match="n_groups"):
        CheckpointedWriter(root, n_groups=4)

    # plant an orphaned tmp dir (the writer's actual tmp path) with
    # REAL parquet rows in it
    orphan = os.path.join(root, "decisions.tmp", "_commit_group=0")
    w.read_all(spark).limit(5).write.parquet(orphan)
    n_before = w.read_all(spark).count()
    clean = CheckpointedWriter(str(tmp_path / "guards_ref"), n_groups=2)
    clean.run(dec)
    assert n_before == clean.read_all(spark).count()  # orphan invisible


def test_rerun_is_noop(spark, fixture_paths, nd_kwargs, tmp_path):
    dec = _decisions(spark, fixture_paths, nd_kwargs)
    root = str(tmp_path / "noop")
    w = CheckpointedWriter(root, n_groups=2)
    w.run(dec)
    again = w.run(dec)
    assert again == {}


def test_run_executes_plan_once(spark, tmp_path):
    """The batch commit must execute the decisions plan ONCE — the old
    writer ran one action per group (4 full passes here). An
    accumulator inside the plan counts how many rows ever flow through
    it; per-group footer counts must not touch the plan at all."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf(T.LongType())
    def traced(col):
        acc.add(len(col))
        return col

    # traced feeds a pure DATA column (not the partition/filter key —
    # Catalyst legitimately duplicates pushed-down key expressions, which
    # would double-count without meaning the plan ran twice)
    dec = (
        spark.range(0, 400)
        .select(
            F.concat(F.lit("img:"), traced(F.col("id")).cast("string")).alias(
                "image_id"
            ),
            F.lit("keep").alias("decision"),
            F.pmod(F.col("id"), F.lit(64)).cast("int").alias("part_bucket"),
        )
    )
    w = CheckpointedWriter(str(tmp_path / "onejob"), n_groups=4)
    counts = w.run(dec)
    assert set(counts) == {0, 1, 2, 3} and sum(counts.values()) == 400
    assert acc.value == 400, f"plan executed {acc.value / 400:.1f}x, expected 1x"


def test_run_is_one_job(spark, tmp_path):
    """The commit is ONE Spark job on a shuffle-free frame: the
    per-group row counts come from an Observation on the write itself
    (the old per-group re-read cost ~3 more jobs per group), and every
    marker's count matches the rows read back for its group."""
    import json

    from pyspark.sql import functions as F

    dec = spark.range(0, 1000).select(
        F.concat(F.lit("img:"), F.col("id").cast("string")).alias("image_id"),
        F.lit("keep").alias("decision"),
        F.pmod(F.col("id"), F.lit(64)).cast("int").alias("part_bucket"),
    )
    w = CheckpointedWriter(str(tmp_path / "jobs"), n_groups=4)
    sc = spark.sparkContext
    sc.setJobGroup("ckpt_one_job", "CheckpointedWriter.run")
    try:
        counts = w.run(dec)
        jobs = sc.statusTracker().getJobIdsForGroup("ckpt_one_job")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 1, jobs
    read = {
        r["group"]: r["count"]
        for r in w.read_all(spark).groupBy("group").count().collect()
    }
    for g in range(4):
        with open(w._marker(g)) as fh:
            marker = json.load(fh)
        assert marker["rows"] == counts[g] == read[g]
