"""Lineage + checkpointed-resume tests (FIXTURES.md invariant 11:
kill after partial commit → rerun processes only uncommitted turns →
final table equals single-run output)."""

import pandas as pd

from ragstudio_spark.pipeline import lineage
from ragstudio_spark.pipeline.job import PipelineConfig
from ragstudio_spark.sources import transcripts as tsrc

KEY = ["conv_id", "turn_idx", "chunk_index"]


def _sorted(pdf):
    return pdf.sort_values(KEY).reset_index(drop=True)


class TestResume:
    def test_partial_then_resume_equals_single_run(self, spark, tmp_path):
        n = 200
        full = tsrc.transcripts_df(spark, n, seed=11, partitions=4)

        # single-run ground truth
        root_a = str(tmp_path / "single")
        lineage.run_with_lineage(spark, full, root_a, "run_1")
        single = _sorted(lineage.read_chunks(spark, root_a).toPandas())

        # partial run (first 120 turns committed), then resume over the full input
        root_b = str(tmp_path / "resumed")
        partial_input = full.filter("conv_id < 'conv_00000015'")
        s1 = lineage.run_with_lineage(spark, partial_input, root_b, "run_1")
        assert s1["total_turns"] > 0
        s2 = lineage.run_with_lineage(spark, full, root_b, "run_2")
        # second run processed strictly the complement
        assert s1["total_turns"] + s2["total_turns"] == n

        resumed = _sorted(lineage.read_chunks(spark, root_b).toPandas())
        pd.testing.assert_frame_equal(single, resumed)

    def test_rerun_after_complete_is_noop(self, spark, tmp_path):
        n = 80
        full = tsrc.transcripts_df(spark, n, seed=13, partitions=4)
        root = str(tmp_path / "noop")
        s1 = lineage.run_with_lineage(spark, full, root, "run_1")
        # resume skips committed turns of every status, not only successes
        assert s1["failed"] + s1["skipped"] > 0
        s2 = lineage.run_with_lineage(spark, full, root, "run_2")
        assert s2["total_turns"] == 0

    def test_uncommitted_run_ignored(self, spark, tmp_path):
        """A run dir without the commit marker is invisible to readers and
        its turns are reprocessed (crash-recovery semantics)."""
        import os, shutil
        n = 60
        full = tsrc.transcripts_df(spark, n, seed=17, partitions=2)
        root = str(tmp_path / "crash")
        lineage.run_with_lineage(spark, full, root, "run_1")
        # simulate crash: drop the marker
        os.remove(os.path.join(root, "runs", "run_1", lineage.COMMIT_MARKER))
        assert lineage.read_chunks(spark, root) is None
        s = lineage.run_with_lineage(spark, full, root, "run_2")
        assert s["total_turns"] == n

    def test_broadcast_size_guard(self, spark, tmp_path, monkeypatch):
        """VERDICT r1 #1: the resume anti-join must broadcast-hint the
        committed-key set only under the size threshold. Above it (a crash
        deep into a 10¹²-turn run) the join must stay a shuffle anti-join —
        forcing a broadcast there OOMs the cluster. Asserted on the physical
        plan with auto-broadcast disabled so only the explicit hint decides."""
        n = 80
        full = tsrc.transcripts_df(spark, n, seed=23, partitions=4)
        root = str(tmp_path / "guard")
        lineage.run_with_lineage(spark, full.filter("turn_idx < 3"), root, "run_1")
        assert lineage.estimated_committed_turns(root) > 0

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            monkeypatch.setattr(lineage, "BROADCAST_MAX_KEYS", 10**9)
            small = lineage.resume_filter(spark, full, root)
            plan_small = small._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in plan_small

            monkeypatch.setattr(lineage, "BROADCAST_MAX_KEYS", 0)
            big = lineage.resume_filter(spark, full, root)
            plan_big = big._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan_big
            # result equality regardless of join strategy
            assert small.count() == big.count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    def test_retry_broadcast_size_guard(self, spark, tmp_path, monkeypatch):
        """Same guard on the retry semi-join (history.retry_subset)."""
        from ragstudio_spark.pipeline import history

        n = 150
        full = tsrc.transcripts_df(spark, n, seed=61, partitions=4)
        root = str(tmp_path / "retryguard")
        lineage.run_with_lineage(spark, full, root, "run_1")
        assert history.estimated_retry_turns(root) > 0

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            monkeypatch.setattr(lineage, "BROADCAST_MAX_KEYS", 10**9)
            small = history.retry_subset(spark, full, root)
            assert "BroadcastHashJoin" in (
                small._jdf.queryExecution().executedPlan().toString())
            monkeypatch.setattr(lineage, "BROADCAST_MAX_KEYS", 0)
            big = history.retry_subset(spark, full, root)
            plan_big = big._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan_big
            assert small.count() == big.count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    def test_lineage_table_shape(self, spark, tmp_path):
        n = 60
        full = tsrc.transcripts_df(spark, n, seed=19, partitions=3)
        root = str(tmp_path / "shape")
        summary = lineage.run_with_lineage(spark, full, root, "run_1")
        lin = lineage.read_table(spark, root, "lineage").toPandas()
        assert set(lin.columns) >= {
            "run_id", "partition_id", "total_turns", "success", "failed",
            "skipped", "ts",
        }
        assert lin["total_turns"].sum() == n
        assert summary["success"] + summary["failed"] + summary["skipped"] == n
