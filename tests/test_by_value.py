"""The package ships to Python workers by value, from one place.

Python workers import from their own path, which holds the Spark
process's cwd, not the driver's ``sys.path``. The package root
registers itself with Spark's cloudpickle once, in
``flink_realtime_edu_spark/__init__.py``, and that covers every
submodule. These tests run one query per Python-worker family from a
cwd without the package, and hold the registration to its one place.
"""

from __future__ import annotations

import re

from tests.foreign_cwd import REPO, run_without_the_package

# One registered query per family of Python-worker stage.
_WORKER_QUERIES = (
    "png_decode_stats",  # image codecs (mapInPandas)
    "audio_fingerprint_dups",  # audio codecs
    "near_dup_minhash",  # dedup pandas UDFs
    "ivfpq_residual_ann_topk",  # quantization
    "kmeans_quality_summary",  # clustering
    "cosine_topk_bruteforce",  # similarity
    "text_normalization_checksum",  # textnorm
    "cep_iterative_condition",  # the all-matches NFA's applyInPandas
    "pandas_udf_token_stats",  # a query module with its own UDF
)

_BATCH_SUBPROCESS = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from flink_realtime_edu_spark.queries import load_registry
from flink_realtime_edu_spark.queries.training import _round_half_away
from flink_realtime_edu_spark.session import get_spark

spark = get_spark(app_name="batch-by-value", shuffle_partitions=2)
registry = load_registry()
for name in sys.argv[3:]:
    print(name, len(registry[name].build(spark, sys.argv[2]).collect()))
half_away = F.udf(lambda x: _round_half_away(x), "long")
print(sorted(
    r[0] for r in spark.range(4).select(half_away(F.col("id") - 1.5)).collect()
))
spark.stop()
"""


def test_batch_queries_run_from_a_cwd_without_the_package(tmp_path, sf_dir):
    """Every family builds and collects from a cwd without the
    package, and so does a UDF that calls a helper of a module no
    query stage had shipped before (``queries.training``)."""
    proc = run_without_the_package(
        _BATCH_SUBPROCESS, tmp_path, sf_dir, *_WORKER_QUERIES
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    assert [line.split()[0] for line in lines[:-1]] == list(_WORKER_QUERIES), (
        proc.stdout
    )
    assert lines[-1] == "[-2, -1, 1, 2]", proc.stdout


def test_only_the_package_root_registers_by_value():
    """One mechanism decides how workers get the package: a module
    that registered itself again would hide a gap in the root's
    coverage, and one that registered nothing used to break from a
    foreign cwd."""
    call = re.compile(r"\bregister_pickle_by_value\b")
    found = {}
    for path in sorted((REPO / "flink_realtime_edu_spark").rglob("*.py")):
        if n := len(call.findall(path.read_text())):
            found[str(path.relative_to(REPO))] = n
    assert found == {"flink_realtime_edu_spark/__init__.py": 1}, found
