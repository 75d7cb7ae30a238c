"""flink_realtime_edu_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the Enzonna/Flink-realtime-edu
reference (a Flink real-time data-warehouse for online education;
see /root/reference/README.md:1-2 and SURVEY.md §0-§2), plus the
LLM-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis) required by the north star.

Layout
------
- ``session``    — SparkSession construction + runtime confs (UTC,
                   AQE, Arrow) shared by every query.
- ``sources``    — batch parquet loaders and streaming source
                   builders for the driver testdata tables.
- ``functions``  — column-expression helpers: oracle-deterministic
                   aggregates, text/vector helpers.
- ``operators``  — composed operators Spark lacks natively: as-of
                   join, batch sessionization, MinHash/SimHash dedup,
                   cosine top-k similarity, grouped top-k.
- ``queries``    — the registry backing ``__spark_entry__.queries()``
                   / ``oracle_sql()``; one module per SURVEY.md §2
                   area, each entry carrying its DuckDB oracle SQL.
- ``streaming``  — Structured Streaming forms of the reference's
                   real-time jobs (windowed aggs, dedup, stream-
                   stream joins, upsert sinks).
- ``multimodal`` — binary-column conventions + Pandas-UDF plumbing
                   for image/audio payloads (decode stubbed; no
                   codec libs in this environment).

Everything is DataFrame/SQL-first: plans are declared declaratively
and Catalyst/Tungsten pick the physical strategy (SURVEY.md §3-§4).

Python workers import from their own path, which holds the Spark
process's cwd, not the driver's ``sys.path``. So every function and
class of this package pickles by value: this module registers the
package root with the cloudpickle copy Spark serializes with, and
cloudpickle treats every submodule of a registered package as
registered. A UDF, ``mapInPandas``, ``applyInPandas`` or
``applyInPandasWithState`` stage then runs from any cwd, with no
registration of its own. This is the only registration in the package
(tests/test_by_value.py holds it to that).
"""

import sys

from pyspark import cloudpickle

from flink_realtime_edu_spark.session import configure, get_spark

cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["configure", "get_spark"]
__version__ = "0.1.0"
