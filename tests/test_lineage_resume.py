"""Lineage + checkpointed-resume tests (FIXTURES.md invariant 11:
kill after partial commit → rerun processes only uncommitted turns →
final table equals single-run output)."""

import pandas as pd
import pytest

from ragstudio_spark.pipeline import lineage
from ragstudio_spark.pipeline.job import PipelineConfig
from ragstudio_spark.sources import transcripts as tsrc

KEY = ["conv_id", "turn_idx", "chunk_index"]


def _sorted(pdf):
    return pdf.sort_values(KEY).reset_index(drop=True)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_planner_broadcasts(spark, frames):
    """With auto-broadcast off every plan in `frames` is a shuffle join;
    with the default thresholds the planner broadcasts the small side;
    the rows are the same either way."""
    def plans_and_counts():
        # select("*") is a fresh Dataset, planned under the current
        # settings
        return {name: (_plan(df.select("*")), df.count())
                for name, df in frames.items()}

    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    for key in keys:
        spark.conf.set(key, "-1")
    try:
        forced = plans_and_counts()
    finally:
        for key in keys:
            spark.conf.unset(key)
    default = plans_and_counts()
    for name in frames:
        assert "BroadcastExchange" not in forced[name][0], name
        assert "BroadcastHashJoin" in default[name][0], name
        assert default[name][1] == forced[name][1] > 0, name


@pytest.fixture(scope="module")
def committed_root(spark, tmp_path_factory):
    """(root, input): one committed run "run_1" over part of the input;
    some of its turns are failed or skipped, so the retry set is
    non-empty."""
    full = tsrc.transcripts_df(spark, 80, seed=13, partitions=4)
    root = str(tmp_path_factory.mktemp("committed"))
    lineage.run_with_lineage(spark, full.filter("turn_idx % 2 = 0"), root,
                             "run_1")
    return root, full


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

    def test_committed_run_id_is_refused(self, spark, committed_root):
        """Re-submitting a committed run id must not overwrite the
        snapshot its own resume anti-join reads: it fails before any read
        or write, and the committed tables keep their rows."""
        root, full = committed_root

        def rows():
            return (lineage.read_table(spark, root, "metrics").count(),
                    lineage.read_chunks(spark, root).count())

        before = rows()
        with pytest.raises(ValueError, match="run_1"):
            lineage.run_with_lineage(spark, full, root, "run_1")
        assert rows() == before

    def test_broadcast_size_guard(self, spark, committed_root):
        """The resume anti-join carries no broadcast hint, so a large
        committed-key set (a crash deep into a long run) is never forced
        into a broadcast: above the planner's size threshold (here,
        auto-broadcast off) it is a shuffle anti-join, below it the
        planner broadcasts the key set, with the same rows either way."""
        root, full = committed_root
        _assert_planner_broadcasts(spark, {
            "resume_filter": lineage.resume_filter(spark, full, root)})

    def test_retry_broadcast_size_guard(self, spark, committed_root):
        """Same size rule on the retry semi-join (history.retry_subset)."""
        from ragstudio_spark.pipeline import history

        root, full = committed_root
        _assert_planner_broadcasts(spark, {
            "retry_subset": history.retry_subset(spark, full, root)})

    def test_planner_chooses_broadcasts(self, spark):
        """The corpus-sized dedupe and LM-filter joins carry no broadcast
        hint either. The documents are built from range(), so the
        planner knows their size (a createDataFrame relation has no size
        estimate)."""
        from ragstudio_spark.operators import dedupe, lm_filter

        docs = spark.range(12).selectExpr(
            "id AS doc_id",
            "concat('alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa w', id % 4, ' tail ', id % 3) AS text")
        bench = docs.filter("doc_id < 3")
        _assert_planner_broadcasts(spark, {
            "jaccard_pairs": dedupe.jaccard_pairs(docs),
            "lm_familiarity": lm_filter.lm_familiarity(
                docs, lm_filter.bigram_counts(bench)),
            "ngram_decontaminate": dedupe.ngram_decontaminate(docs, bench, n=3),
            "bloom_decontaminate": dedupe.bloom_decontaminate(docs, bench, n=3),
            "cross_corpus_minhash_pairs":
                dedupe.cross_corpus_minhash_pairs(bench, docs),
        })

    def test_lineage_table_shape(self, spark, tmp_path):
        from ragstudio_spark.operators.metrics import (
            STATUS_COUNTERS, TURN_STATUSES,
        )

        n = 60
        full = tsrc.transcripts_df(spark, n, seed=19, partitions=3)
        root = str(tmp_path / "shape")
        summary = lineage.run_with_lineage(spark, full, root, "run_1")
        lin = lineage.read_table(spark, root, "lineage").toPandas()
        assert set(lin.columns) >= {
            "run_id", "partition_id", "total_turns", "success", "failed",
            "skipped", "ts",
        }
        # the persisted turns keep the scan's partitions, which are the
        # hop's tasks
        assert set(lin["partition_id"]) == {0, 1, 2}
        assert lin["total_turns"].sum() == n
        assert summary["success"] + summary["failed"] + summary["skipped"] == n
        # the summary's totals (an Observation on the lineage write) match
        # the committed metrics table
        statuses = lineage.read_table(spark, root, "metrics").toPandas()["status"]
        counted = statuses.map(lambda s: TURN_STATUSES[s][0]).value_counts()
        for counter in STATUS_COUNTERS:
            assert summary[counter] == counted.get(counter, 0), counter

    def test_fused_hop_runs_once(self, spark, tmp_path, monkeypatch):
        """The three table writes read the persisted gated turns, so the
        fused hop runs one task per input partition, fresh or resumed."""
        from pyspark.sql.classic.dataframe import DataFrame

        full = tsrc.transcripts_df(spark, 160, seed=23, partitions=2)
        tasks = spark.sparkContext.accumulator(0)
        map_in_pandas = DataFrame.mapInPandas

        def counted(self, func, schema, *args, **kwargs):
            def run(batches):
                tasks.add(1)
                yield from func(batches)
            return map_in_pandas(self, run, schema, *args, **kwargs)

        # patched after the input is built: only the fused hop is counted
        monkeypatch.setattr(DataFrame, "mapInPandas", counted)
        root = str(tmp_path / "once")
        s1 = lineage.run_with_lineage(
            spark, full.filter("conv_id < 'conv_00000010'"), root, "run_1",
            resume=False)
        assert s1["total_turns"] > 0
        assert tasks.value == 2
        tasks.value = 0
        s2 = lineage.run_with_lineage(spark, full, root, "run_2")
        assert s1["total_turns"] + s2["total_turns"] == 160
        assert tasks.value == 2

    def test_crashed_run_releases_and_claims_nothing(self, spark, tmp_path):
        """A run that fails mid-write unpersists its turns and leaves no
        run.json and no commit marker."""
        import os

        cfg = PipelineConfig(on_error="fail_fast",
                             bpe_merges_path=str(tmp_path / "missing.txt"))
        root = str(tmp_path / "crashed")

        def persisted_rdds():
            # the session is shared: earlier tests' local checkpoints may
            # still be registered, so compare with the set before the run
            rdds = spark.sparkContext._jsc.getPersistentRDDs()
            return set(rdds.keySet().toArray())

        before = persisted_rdds()
        with pytest.raises(Exception, match="FileNotFoundError"):
            lineage.run_with_lineage(
                spark, tsrc.transcripts_df(spark, 20, seed=29, partitions=2),
                root, "run_1", cfg)
        run_dir = os.path.join(root, "runs", "run_1")
        assert not os.path.exists(os.path.join(run_dir, lineage.COMMIT_MARKER))
        assert not os.path.exists(os.path.join(run_dir, "run.json"))
        assert persisted_rdds() <= before
