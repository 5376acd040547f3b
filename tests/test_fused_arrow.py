"""Row identity of the fused hop (operators/fused.py) across its output
modes.

The hop once had a second, mapInArrow engine; measured at 1.01× over
mapInPandas (BASELINE.md) it was dropped, and the class keeps its name.
What stays is the same contract across the modes that reshape the hop's
output: the spans-only wire form sliced back JVM-side, the carried event
time, and the stage trace must all leave every other field of every row
exactly as the default form has it — with and without adaptive strategy
selection.
"""

from pyspark.sql import functions as F

from ragstudio_spark.operators import fused
from ragstudio_spark.operators.sniff import with_content_type


def _rows(df):
    return sorted(map(repr, df.collect()))


class TestArrowEngineEquality:
    def test_rows_identical_across_engines_and_modes(self, spark,
                                                     mixed_turns):
        df = with_content_type(spark.createDataFrame(
            mixed_turns,
            "conv_id string, turn_idx int, text string, ts timestamp"))
        src_ts = {(c, i): ts for c, i, _t, ts in mixed_turns}
        for base in (dict(), dict(adaptive=True)):
            ref = fused.process_turns(df, **base)
            want = _rows(ref)
            assert len(want) == len(mixed_turns), base

            # the wire form sliced back in Python, independently of the
            # JVM-side slice the default form runs
            wire = fused.process_turns(df, materialize_text=False, **base)
            assert "base_utf8" in wire.columns, base
            texts = {}
            for r in wire.collect():
                for c in r["chunks"] or []:
                    if c["text"] is None:
                        lo = c["b_start"]
                        text = bytes(r["base_utf8"][lo:lo + c["b_len"]])
                        text = text.decode("utf-8")
                    else:
                        text = c["text"]
                    key = (r["conv_id"], r["turn_idx"], c["chunk_index"])
                    texts[key] = text
            assert texts == {
                (r["conv_id"], r["turn_idx"], c["chunk_index"]): c["text"]
                for r in ref.collect() for c in r["chunks"] or []}, base
            assert texts, base
            sliced = fused._materialize_chunk_text(wire)
            assert sliced.schema == ref.schema, base
            assert _rows(sliced) == want, base

            timed = fused.process_turns(df, carry_ts=True, **base)
            got_ts = {(r["conv_id"], r["turn_idx"]): r["ts"]
                      for r in timed.collect()}
            assert got_ts == src_ts, base
            untimed = timed.drop("ts")
            assert untimed.schema == ref.schema, base
            assert _rows(untimed) == want, base

            traced = fused.process_turns(df, with_trace=True, **base)
            assert all(r["stage_trace"] for r in traced.collect()), base
            untraced = traced.drop(F.col("stage_trace"))
            assert untraced.schema == ref.schema, base
            assert _rows(untraced) == want, base
