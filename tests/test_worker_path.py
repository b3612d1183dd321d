"""Python workers import the package wherever the caller runs from.

UDF and pandas-function bodies are unpickled in Spark's Python workers
by importing their modules. A script that found the package only
through its own ``sys.path`` (run from another directory, with
``PYTHONPATH`` unset) used to fail every Python-worker query with
``ModuleNotFoundError: No module named 'movie_rankings_spark'``.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from movie_rankings_spark.plans.all_queries import QUERIES
from movie_rankings_spark.session import get_spark

spark = get_spark("worker-path")
print("rows", len(QUERIES["similarity_pq_topk"](spark, {sf_dir!r}).collect()))
spark.stop()
"""


def test_udf_query_runs_from_outside_the_checkout(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    done = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(root=ROOT, sf_dir=sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert "rows " in done.stdout
