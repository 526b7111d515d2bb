"""PySpark's Python-worker daemon, started with this package imported.

:func:`session.get_spark` names this module as
``spark.python.daemon.module``. Before it runs ``pyspark.daemon`` as
``__main__``, it

- imports :mod:`session`, which installs
  :func:`session.reread_zips_only_when_changed`, and stamps every zip
  archive on ``sys.path`` with one ``importlib.invalidate_caches()``:
  each worker the daemon forks inherits the stamps, so no task re-reads
  ``pyspark.zip``'s directory, whether or not its command imports the
  package (a pandas-UDF closure pickled by value does not);
- imports what every pandas/Arrow task loads (``pyspark.worker``,
  pandas, pyarrow) and moves it into the collector's permanent
  generation with ``gc.freeze()``. A reused worker runs ``gc.collect()``
  after every task; unfrozen, that walked these modules' objects each
  time (about 0.04 s of CPU per task).

PySpark 4.1's daemon loads a custom *worker* module only when its name
starts with ``pyspark``, so the hook has to be the daemon module.
"""

import gc
import importlib
import runpy

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.worker  # noqa: F401

import dynamic_spark_spark.session  # noqa: F401  (installs the stamp check)

if __name__ == "__main__":
    importlib.invalidate_caches()
    gc.freeze()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
