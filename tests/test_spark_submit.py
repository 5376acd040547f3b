"""The north-rule deployment shape, actually executed: package the engine
into dist/ragstudio_spark.zip and run the job via spark-submit
--py-files from a staging directory where the package is NOT importable
from the filesystem — the import must resolve through the zip."""

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TestSparkSubmitPackaging:
    def test_py_files_zip_deploy_end_to_end(self, tmp_path):
        subprocess.run([sys.executable, "scripts/package.py"],
                       check=True, cwd=REPO)
        staged = tmp_path / "app"
        staged.mkdir()
        # run_job.py prepends its grandparent dir to sys.path; staged
        # under tmp_path that directory holds no ragstudio_spark, so the
        # only import source is the --py-files zip
        shutil.copy(os.path.join(REPO, "scripts", "run_job.py"),
                    staged / "run_job.py")
        shutil.copy(os.path.join(REPO, "dist", "ragstudio_spark.zip"),
                    staged / "pkg.zip")
        out_dir = tmp_path / "out"
        env = dict(os.environ)
        env.pop("PYTHONPATH", None)
        r = subprocess.run(
            ["spark-submit", "--master", "local[4]",
             "--conf", "spark.sql.shuffle.partitions=4",
             "--py-files", str(staged / "pkg.zip"),
             str(staged / "run_job.py"),
             "--synthetic", "200", "--output", str(out_dir),
             "--run-id", "zip1"],
            cwd=str(staged), env=env, capture_output=True, text=True,
            timeout=600)
        json_lines = [ln for ln in r.stdout.splitlines()
                      if ln.startswith("{")]
        assert json_lines, (r.returncode, r.stderr[-3000:])
        summary = json.loads(json_lines[-1])
        # the CLI's exit-code contract: 0 only when zero turns failed —
        # the synthetic corpus contains designed-to-fail garbage rows,
        # so a nonzero count (and exit 1) is the expected outcome here
        assert r.returncode == (0 if summary["failed"] == 0 else 1)
        assert summary["status"] == "completed"
        assert summary["total_turns"] == 200
        # the committed run landed its tables
        run_root = os.path.join(str(out_dir), "runs", "zip1")
        assert os.path.isdir(run_root), os.listdir(str(out_dir))
        names = {n for _, _, fs in os.walk(run_root) for n in fs}
        assert any(n.endswith(".parquet") for n in names)

    def test_zip_ships_the_trained_vocabulary_to_workers(self, tmp_path):
        """The packaged merges.txt must resolve INSIDE the zip on worker
        processes (kernel/bpe.default_tokenizer loads via
        importlib.resources) — a filesystem-path assumption would
        silently degrade every token-strategy chunk to the char-window
        fallback on a real cluster."""
        subprocess.run([sys.executable, "scripts/package.py"],
                       check=True, cwd=REPO)
        staged = tmp_path / "app"
        staged.mkdir()
        shutil.copy(os.path.join(REPO, "dist", "ragstudio_spark.zip"),
                    staged / "pkg.zip")
        probe = staged / "probe.py"
        probe.write_text(
            "from pyspark.sql import SparkSession\n"
            "spark = SparkSession.builder.getOrCreate()\n"
            "def check(_):\n"
            "    from ragstudio_spark.kernel import bpe\n"
            "    tok = bpe.default_tokenizer()\n"
            "    return tok is not None and len(tok.ranks) > 50\n"
            "ok = spark.sparkContext.parallelize(range(4), 4)"
            ".map(check).collect()\n"
            "print('WORKER_TOKENIZER_OK' if all(ok) else "
            "'WORKER_TOKENIZER_MISSING')\n")
        env = dict(os.environ)
        env.pop("PYTHONPATH", None)
        r = subprocess.run(
            ["spark-submit", "--master", "local[4]",
             "--py-files", str(staged / "pkg.zip"), str(probe)],
            cwd=str(staged), env=env, capture_output=True, text=True,
            timeout=600)
        assert "WORKER_TOKENIZER_OK" in r.stdout, (r.returncode,
                                                   r.stderr[-3000:])

    def test_submitted_session_takes_engine_sql_conf(self, tmp_path):
        """run_job.py's session (session.submit_session) carries the
        engine's spark.sql.* settings under spark-submit, and an explicit
        --conf still overrides them."""
        subprocess.run([sys.executable, "scripts/package.py"],
                       check=True, cwd=REPO)
        staged = tmp_path / "app"
        staged.mkdir()
        shutil.copy(os.path.join(REPO, "dist", "ragstudio_spark.zip"),
                    staged / "pkg.zip")
        probe = staged / "probe.py"
        probe.write_text(
            "import json\n"
            "from ragstudio_spark.session import submit_session\n"
            "spark = submit_session('conf-probe')\n"
            "keys = ['spark.sql.optimizer.excludedRules',\n"
            "        'spark.sql.execution.arrow.maxRecordsPerBatch',\n"
            "        'spark.sql.shuffle.partitions']\n"
            "print('CONF ' + json.dumps({k: spark.conf.get(k) "
            "for k in keys}))\n")
        env = dict(os.environ)
        env.pop("PYTHONPATH", None)

        def submitted_conf(*conf):
            r = subprocess.run(
                ["spark-submit", "--master", "local[1]",
                 "--conf", "spark.sql.shuffle.partitions=4", *conf,
                 "--py-files", str(staged / "pkg.zip"), str(probe)],
                cwd=str(staged), env=env, capture_output=True, text=True,
                timeout=600)
            lines = [ln[5:] for ln in r.stdout.splitlines()
                     if ln.startswith("CONF ")]
            assert lines, (r.returncode, r.stderr[-3000:])
            return json.loads(lines[-1])

        default = submitted_conf()
        assert default["spark.sql.optimizer.excludedRules"] == (
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        assert default["spark.sql.execution.arrow.maxRecordsPerBatch"] \
            == "2048"
        assert default["spark.sql.shuffle.partitions"] == "4"
        capped = submitted_conf(
            "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=512")
        assert capped["spark.sql.execution.arrow.maxRecordsPerBatch"] \
            == "512"
        assert capped["spark.sql.optimizer.excludedRules"] \
            == default["spark.sql.optimizer.excludedRules"]
