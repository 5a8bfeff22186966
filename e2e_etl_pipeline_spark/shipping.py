"""Ship this package to Spark's Python workers.

Module-level functions used inside UDFs / mapInPandas /
applyInPandasWithState are cloudpickled BY REFERENCE (module + qualname), so
every Python worker must be able to ``import e2e_etl_pipeline_spark``. The
driver process importing us proves nothing about workers: they inherit
PYTHONPATH from the JVM's environment, not the driver's ``sys.path``.

``ensure_package_shipped`` zips the package once per SparkContext and
``addPyFile``s it — the same mechanism that deploys the package to a
1000-executor cluster, exercised identically on local[N]. The zip is staged
inside the context's own files directory, which Spark deletes when the
context stops.
"""

from __future__ import annotations

import os
import shutil

from pyspark import SparkFiles
from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    # Key on applicationId, not id(sc): after spark.stop() a NEW context
    # can be allocated at the same CPython address, and an id()-keyed
    # cache would silently skip the addPyFile for it — workers would then
    # fail with ModuleNotFoundError on the first by-reference UDF.
    key = sc.applicationId
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # A subdirectory: addPyFile copies the zip to the directory's root.
    staging = os.path.join(SparkFiles.getRootDirectory(), "e2e_pkg_ship")
    zip_path = shutil.make_archive(
        os.path.join(staging, "e2e_etl_pipeline_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    _SHIPPED.add(key)
