"""Deployment-mode test: real ``spark-submit --py-files biobloom_spark.zip``.

The north rule's deployment clause is "run via spark-submit --py-files on a
multi-executor cluster".  No cluster exists in this sandbox, so this test
exercises the exact artifact + launcher path on a local master: build the
dist zip (tools/make_dist.py), launch pyspark's real ``spark-submit`` with
``--py-files`` from a scratch cwd with the repo stripped from PYTHONPATH,
and run a build→categorize job whose imports can only resolve from the
shipped zip (driver and executors both).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from make_dist import build_zip  # noqa: E402

JOB = """\
import json
from pyspark.sql import SparkSession

spark = SparkSession.builder.getOrCreate()
# these imports resolve ONLY from the --py-files zip: the job runs from a
# scratch cwd with the repo removed from PYTHONPATH
import biobloom_spark
assert ".zip" in biobloom_spark.__file__, biobloom_spark.__file__
from biobloom_spark.corpus import generate_corpus
from biobloom_spark.operators import build_filters, categorize, load_registry, summarize

docs = generate_corpus(spark, 400, seed=7, num_partitions=4).cache()
reg = build_filters(
    spark, docs, key_col="lang", text_col="text", id_col="url",
)
filters = load_registry(reg)
rows = summarize(
    categorize(spark, docs, filters, id_col="url"),
    [f["filter_id"] for f in filters],
).collect()
assert rows, "summary came back empty"
print("SUBMIT_OK " + json.dumps({"filters": len(filters), "rows": len(rows)}))
spark.stop()
"""


def test_spark_submit_py_files(tmp_path):
    spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if not os.path.exists(spark_submit):
        pytest.skip("pyspark install has no spark-submit launcher")

    zip_path = build_zip(str(tmp_path / "biobloom_spark.zip"))
    job_path = tmp_path / "job.py"
    job_path.write_text(JOB)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only import source
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(job_path),
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "SUBMIT_OK" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-2000:]
