"""spark-submit --py-files deployment smoke: the north rule's ship shape.

Runs tools/submit_job.py through a REAL spark-submit subprocess with the
engine shipped only as a --py-files zip (cwd is a scratch dir, PYTHONPATH
stripped of the repo), then checks the materialised output tables and the
lineage totals.  This is the cluster deployment contract end-to-end — not
an in-process simulation.
"""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    from scientific_papers_ocr_spark import fixtures
    from scientific_papers_ocr_spark.operators import documents as docops
    from scientific_papers_ocr_spark.session import package_zip

    input_path = str(tmp_path / "transcripts.parquet")
    out_dir = str(tmp_path / "out")
    corpus = fixtures.spark_corpus(spark, 12, seed=7, turns_per_conv=6)
    corpus.write.parquet(input_path)
    n_turns = corpus.count()

    zip_path = package_zip()
    env = {
        k: v
        for k, v in os.environ.items()
        # the submitted job must import the engine from the zip alone
        if k not in ("PYTHONPATH",)
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "submit_job.py"),
            input_path, out_dir, "8",
        ],
        cwd=str(tmp_path),  # NOT the repo: no accidental repo-tree imports
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert f"extraction complete: {n_turns} turns / 12 convs" in proc.stdout, (
        proc.stdout
    )

    # the job materialised the turns, docs and lineage tables; spans is a
    # view over docs, never written
    for table in ("turns", "docs", "lineage"):
        assert os.path.exists(os.path.join(out_dir, table)), table
    assert not os.path.exists(os.path.join(out_dir, "spans"))
    turns = spark.read.parquet(os.path.join(out_dir, "turns"))
    assert turns.count() == n_turns
    docs = spark.read.parquet(os.path.join(out_dir, "docs"))
    assert docs.count() == 12
    spans = docops.explode_spans(docs)
    assert spans.select("conv_id").distinct().count() == 12
