"""exaloglog_paper_spark — a from-scratch PySpark-native distributed sketch
and approximate-aggregation library (ExaLogLog, HyperLogLog, count-min, KLL,
t-digest, Bloom) built as mergeable binary-state aggregators on vectorized
Arrow/pandas UDFs. Reference behavior: dynatrace-research/exaloglog-paper
(EDBT'25 artifact); architecture: idiomatic Spark DataFrame pipelines.
"""

import sys

__version__ = "0.1.0"

# Engine UDFs unpickle engine modules in the Python worker, so this runs in
# every worker that runs an engine task; see _zipcache for the measurement.
if sys.version_info < (3, 13):
    from exaloglog_paper_spark import _zipcache

    _zipcache.install()
