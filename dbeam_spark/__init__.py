"""dbeam_spark — a PySpark-native engine with the capabilities of
spotify/dbeam (JDBC → Avro export) plus large-scale analytics and
LLM-data-pipeline operators.

Reference parity map lives in SURVEY.md §2; each module docstring cites
the reference file it re-expresses (Spark-first, not a port).
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Functions and classes of this package that Python worker closures
# reference (the Avro reader/writer, the streaming state kernels, the
# dedup and kNN kernels) pickle BY VALUE, like the closures
# themselves: a worker then never imports the package, so a session
# not built by `session.get_spark` runs them from any cwd. Registering
# the package covers every submodule.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
