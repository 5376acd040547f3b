"""The benchmark workloads: set-up, one timed repetition, output checks.

Each workload object is bound to one Spark session and one work directory.
``setup()`` materialises the seeded inputs and runs the once-per-run checks;
``rep(i)`` runs one closed-loop repetition and returns its wall time and
whether every output check on it passed. The timed region covers only the
product call; checks and cleanup run after the clock stops.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs

N_TURNS = 1200           # transcript table size
CHUNK_CHECK_TURNS = 40   # seeded sample compared against kernel.chunk
# half the row counts of the repository's sf0.1 testdata tables
BATTERY_DOCS, BATTERY_VECS, BATTERY_EVENTS = 2500, 1000, 50_000
BATTERY_WARM_PASSES = 1  # untimed pass after the oracle pass
EXTRACT_WARM_RUNS = 2    # untimed runs after the reference run
MATERIALISE_REPEATS = 3  # set-up repeats the input build; median reported

# the battery leaves on the checkpoint, broadcast and collect_list sites
# that ROADMAP items 2 and 5 target; README.md says why the other six
# proposed leaves are left out
BATTERY_LEAVES = (
    "dedup_simhash", "dedup_clusters", "skew_diagnostic", "ngram_jaccard_top_pairs",
)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


# ---------------------------------------------------------------- digests

def chunk_rows(run_dirs: list[str]) -> list[tuple]:
    """(conv_id, turn_idx, chunk_index, text) of the chunk tables under the
    given run directories, read straight from the parquet files."""
    rows: list[tuple] = []
    for d in run_dirs:
        t = pq.read_table(os.path.join(d, "chunks"),
                          columns=["conv_id", "turn_idx", "chunk_index", "text"])
        rows.extend(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    return rows


def chunk_digest(rows: list[tuple]) -> str:
    """Order-insensitive digest of ``(conv_id, turn_idx, chunk_index,
    md5(text))`` over a chunk table."""
    keys = sorted(
        f"{c}|{t}|{i}|{hashlib.md5(x.encode()).hexdigest()}" for c, t, i, x in rows)
    return hashlib.md5("\n".join(keys).encode()).hexdigest() + f":{len(keys)}"


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, data files) written under ``path``; Spark's _SUCCESS and .crc
    side files are not counted."""
    size, files = 0, 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size / 1e6, files


# ------------------------------------------------------ kernel reference

def extract_like_pipeline(text: str, ctype: str) -> str:
    """Per-content-type extraction the pipeline applies before chunking."""
    from ragstudio_spark.kernel import html_extract, textops

    if ctype == "html":
        return html_extract.extract_main_content(text)
    if ctype == "pdf":
        return textops.preprocess_before_chunking(text or "", "pdf")
    if ctype == "empty":
        return ""
    return text or ""


def kernel_chunks(conv_id: str, turn_idx: int, text: str, ctype: str) -> list[tuple]:
    from ragstudio_spark.kernel import bpe
    from ragstudio_spark.kernel import chunk as kchunk

    chunks, _stats = kchunk.chunk_turn(
        extract_like_pipeline(text, ctype), source=f"{conv_id}:{turn_idx}",
        requested_strategy="recursive", max_tokens=400, overlap=50,
        do_preprocess=True, tokenizer=bpe.resolve_tokenizer("auto"))
    return [(c["chunk_index"], c["text"]) for c in chunks]


def check_against_kernel(input_dir: str, run_dir: str, seed: int) -> bool:
    """A seeded sample of turns: the run's chunk table must equal direct
    ``kernel.chunk.chunk_turn`` output for passing turns, and hold no chunk
    for quarantined ones."""
    turns = pq.read_table(input_dir, columns=["conv_id", "turn_idx", "text"]).to_pandas()
    pick = np.random.default_rng([seed, 7]).choice(
        len(turns), size=min(CHUNK_CHECK_TURNS, len(turns)), replace=False)
    sample = turns.iloc[sorted(pick)]
    keys = set(zip(sample.conv_id, sample.turn_idx))
    metrics = pq.read_table(os.path.join(run_dir, "metrics"),
                            columns=["conv_id", "turn_idx", "content_type",
                                     "status"]).to_pandas()
    meta = {(c, t): (ct, s) for c, t, ct, s in metrics.itertuples(index=False)
            if (c, t) in keys}
    got: dict[tuple, list] = {k: [] for k in keys}
    for c, t, i, x in chunk_rows([run_dir]):
        if (c, t) in keys:
            got[(c, t)].append((i, x))
    ok = len(meta) == len(keys)
    for c, t, text in sample.itertuples(index=False):
        ctype, status = meta.get((c, t), (None, None))
        want = kernel_chunks(c, t, text, ctype) if status == "success" else []
        if sorted(got[(c, t)]) != want:
            log(f"chunk mismatch vs kernel on {c}:{t} ({ctype}, {status})")
            ok = False
    return ok


# ------------------------------------------------------------- workloads

class ExtractChunk:
    """``pipeline.lineage.run_with_lineage(resume=False)`` with the default
    ``PipelineConfig`` into a fresh output root, over the seeded transcript
    table. Set-up runs it once as the reference (warming the JVM and the
    Python worker fleet); every repetition must reproduce its chunk digest."""

    name = "extract_chunk"
    min_reps = 3

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.input_dir = os.path.join(work, "transcripts")
        self.units = N_TURNS
        self.setup_checks_ok = True
        self.last_run_dir: str | None = None

    def read_input(self):
        return self.spark.read.parquet(self.input_dir)

    def materialise(self) -> float:
        """Build and write the input table ``MATERIALISE_REPEATS`` times;
        returns the median build time."""
        def build():
            self.turns = inputs.transcripts_frame(N_TURNS, self.seed)
            inputs.write_turns(self.turns, self.input_dir, self.cores)

        return statistics.median(timed(build)[0] for _ in range(MATERIALISE_REPEATS))

    def full_run(self, root: str, run_id: str = "run") -> tuple[float, dict]:
        from ragstudio_spark.pipeline.lineage import run_with_lineage

        shutil.rmtree(root, ignore_errors=True)
        return timed(run_with_lineage, self.spark, self.read_input(), root,
                     run_id, resume=False)

    def reference(self) -> float:
        """The reference run: fixes the chunk digest and checks a sample of
        the chunk table against the kernel. Returns its wall time."""
        root = os.path.join(self.work, "reference")
        t, summary = self.full_run(root)
        log(f"reference run {t:.2f}s")
        run_dir = os.path.join(root, "runs", "run")
        self.reference_digest = chunk_digest(chunk_rows([run_dir]))
        ok = summary["total_turns"] == self.units
        ok &= check_against_kernel(self.input_dir, run_dir, self.seed)
        if not ok:
            log("reference run failed its checks")
        self.setup_checks_ok &= ok
        return t

    def cold(self) -> float:
        return self.materialise() + self.reference()

    def warm(self) -> float:
        """Untimed runs: with only one after the reference, each of the
        three timed repetitions often ran 10-15% faster than the one before
        while the JIT warmed up."""
        return sum(self.full_run(os.path.join(self.work, "warm"))[0]
                   for _ in range(EXTRACT_WARM_RUNS))

    def setup(self) -> float:
        return self.cold() + self.warm()

    def job_s(self, times: list[float]) -> float:
        return statistics.median(times)

    def rep(self, i: int) -> tuple[float, bool]:
        root = os.path.join(self.work, f"extract_{i % 2}")
        t, summary = self.full_run(root)
        run_dir = os.path.join(root, "runs", "run")
        ok = (summary["total_turns"] == self.units
              and chunk_digest(chunk_rows([run_dir])) == self.reference_digest)
        self.last_run_dir = run_dir
        return t, ok


def _normalize(df):
    """Column-sorted, row-sorted, object columns as str — the comparison
    form of ``scripts/check_oracle.py``."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _frame_digest(df) -> str:
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest() + f":{len(df)}"


class DedupBattery:
    """The dedup/skew battery leaves through ``entry_queries.queries()`` on
    seeded battery tables; every leaf matches its DuckDB oracle twin once in
    set-up and keeps its digest on every repetition."""

    name = "dedup_battery"
    min_reps = 3

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.data_dir = os.path.join(work, "battery")
        self.units = BATTERY_DOCS
        self.setup_checks_ok = True
        self.leaf_times: dict[str, list[float]] = {n: [] for n in BATTERY_LEAVES}
        self.group_prefix: str | None = None  # job-group prefix when traced

    def materialise(self) -> float:
        times = [timed(inputs.write_battery_tables, self.data_dir, self.seed,
                       BATTERY_DOCS, BATTERY_VECS, BATTERY_EVENTS)[0]
                 for _ in range(MATERIALISE_REPEATS)]
        return statistics.median(times)

    def leaf(self, name: str):
        from ragstudio_spark import entry_queries

        if self.group_prefix is not None:
            self.spark.sparkContext.setJobGroup(f"{self.group_prefix}battery.{name}", name)
        return entry_queries.queries()[name](self.spark, self.data_dir).toPandas()

    def oracle_check(self) -> float:
        """Spark vs DuckDB for every leaf (this pass also warms the JVM),
        recording each leaf's reference digest."""
        import duckdb
        import pandas as pd

        from ragstudio_spark import entry_queries

        t0 = time.perf_counter()
        oracles = entry_queries.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data_dir}/{t}.parquet'")
            self.reference_digest = {}
            for name in BATTERY_LEAVES:
                got = _normalize(self.leaf(name))
                exp = _normalize(con.execute(oracles[name]).fetchdf())
                self.reference_digest[name] = _frame_digest(got)
                try:
                    ok = list(got.columns) == list(exp.columns)
                    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                                  check_exact=True)
                except AssertionError as err:
                    ok = False
                    log(f"oracle mismatch on {name}: {str(err)[:300]}")
                self.setup_checks_ok &= ok
        finally:
            con.close()
        return time.perf_counter() - t0

    def warm(self) -> float:
        """Untimed passes over every leaf, each checked against the
        reference digest: a repetition right after the oracle pass ran
        ~20% slower than one four passes later while the JIT warmed up.
        One pass takes the steepest part; each more adds 6-11 s to every
        run, and it runs pinned to the task slots, like the timed ones."""
        t0 = time.perf_counter()
        for i in range(BATTERY_WARM_PASSES):
            self.setup_checks_ok &= self.rep(i, record=False)[1]
        return time.perf_counter() - t0

    def cold(self) -> float:
        steps = [self.materialise(), self.oracle_check()]
        log("battery set-up: build {:.2f}s, oracle {:.2f}s".format(*steps))
        return sum(steps)

    def setup(self) -> float:
        return self.cold() + self.warm()

    def job_s(self, times: list[float]) -> float:
        """One repetition's wall, as the sum of each leaf's median: a burst
        of host noise hits one leaf of one repetition, and a per-leaf median
        drops it where the median of repetition totals often did not."""
        return sum(statistics.median(self.leaf_times[n]) for n in BATTERY_LEAVES)

    def rep(self, i: int, record: bool = True) -> tuple[float, bool]:
        """One pass over every leaf; its leaf times go into ``leaf_times``
        only if ``record`` and every leaf kept its digest."""
        ok, times = True, {}
        for name in BATTERY_LEAVES:
            times[name], out = timed(self.leaf, name)
            if _frame_digest(_normalize(out)) != self.reference_digest[name]:
                log(f"{name}: output changed between repetitions")
                ok = False
        if ok and record:
            for name, t in times.items():
                self.leaf_times[name].append(t)
        return sum(times.values()), ok


WORKLOADS = {w.name: w for w in (ExtractChunk, DedupBattery)}


def run_loop(workload, seconds: float, min_reps: int, max_wall: float,
             after_rep=None):
    """Closed loop: the next repetition starts when the previous one ends.
    Runs until ``seconds`` have passed and ``min_reps`` are done (never past
    ``max_wall``); ``after_rep`` is called after each repetition.
    Returns (successful rep times, attempted, failed)."""
    times, attempted, failed = [], 0, 0
    t_start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_start
        if attempted >= min_reps and elapsed >= seconds:
            break
        if attempted and elapsed >= max_wall:
            break
        attempted += 1
        try:
            t, ok = workload.rep(attempted - 1)
        except Exception:  # noqa: BLE001 — a failed repetition is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            t, ok = None, False
        if ok:
            times.append(t)
        else:
            failed += 1
        if after_rep is not None:
            after_rep()
    return times, attempted, failed
