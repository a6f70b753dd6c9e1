"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join on,
Arrow-batched pandas UDFs) while remaining correct on local[N].

PySpark's DataFrame call-site capture (``spark.python.sql.dataFrameDebugging
.enabled``) is off: with it on, every ``F.col`` and every ``Column`` method
walks the Python stack and makes two py4j round trips, and the first call
imports IPython (~0.7 s and ~20 MB on a cold driver). The only thing lost
is the Python file:line in an analysis error's "DataFrame query context";
pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to :func:`get_spark` to get it back.

Case mapping (``lower``/``upper``) uses the JVM's
``String.toLowerCase``/``toUpperCase``, not ICU
(``spark.sql.icu.caseMappings.enabled=false``, the mapping Spark 3 used):
ICU's tables take about 2 s of driver time to build on the first
``lower`` of a JVM. Non-ASCII case mapping follows the JVM default locale;
under a root or English locale it equals Python's ``str.lower``/``upper``.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip the sopspark package for shipment to executors — the programmatic
    twin of ``spark-submit --py-files sopspark.zip`` (north_rule deploy mode).

    The zip is named by a hash of the package's ``.py`` files and built
    once: it is written to a temporary file in the temp directory and
    renamed into place, so a driver never ships a zip that another driver
    is still writing, and a file with the hashed name is always complete."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    files = {}
    for root, _dirs, names in os.walk(pkg_dir):
        for fn in names:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                with open(full, "rb") as fh:
                    files[os.path.join("sopspark", os.path.relpath(full, pkg_dir))] = fh.read()
    digest = hashlib.sha256(repr(sorted(files.items())).encode()).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"sopspark_pyfiles_{digest}.zip")
    if os.path.exists(out):
        return out
    fd, tmp = tempfile.mkstemp(prefix="sopspark_pyfiles_", suffix=".part", dir=os.path.dirname(out))
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for rel, data in files.items():
                zf.writestr(rel, data)
        os.replace(tmp, out)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return out


def is_local(df) -> bool:
    """True when ``df`` optimizes to a ``LocalRelation`` (a driver literal,
    e.g. :func:`local_df`): collecting it is a driver-side array copy and
    schedules no job."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
    except (AttributeError, Py4JError):  # not a classic JVM-backed frame
        return False
    return plan.getClass().getSimpleName() == "LocalRelation"


def local_df(spark: SparkSession, rows: list[tuple], schema: str):
    """Driver-literal DataFrame built from an Arrow table.

    Unlike ``createDataFrame`` over Python rows (which parallelizes them
    into an RDD that every action scans), an Arrow table optimizes to a
    ``LocalRelation``: collects are driver-side array copies, and the plan
    has no scan. A broadcast-hash-join build over it still schedules a
    job. Use for small dimension/dictionary literals and for the output of
    driver-side plans; NOT for data that should live on executors.
    Building it costs ~0.7 s for 100k rows (a SQL ``VALUES`` string took
    ~8 s).

    ``schema`` is a DDL string like ``"alias string, prior double"``; each
    column is built as an Arrow array of exactly the declared type, so
    values never pass through pandas' float NaN for a missing integer and
    ``None`` is NULL in every column.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [() for _ in struct.fields]
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema=struct)


def get_spark(
    master: str | None = None,
    app_name: str = "sopspark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with AQE + Arrow enabled.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster you would omit ``master`` and let spark-submit set it;
    every other conf here is cluster-appropriate as-is.

    Call-site capture and ICU case mapping are off (see the module
    docstring); ``extra_conf``
    overrides any default here, e.g.
    ``{"spark.python.sql.dataFrameDebugging.enabled": "true"}`` puts the
    Python call site back into analysis errors.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a cluster AQE coalesces
        # from a deliberately high initial number instead.
        shuffle_partitions = max(cpus, 8)
    builder = SparkSession.builder
    if master != "cluster":
        # master="cluster": leave the master to spark-submit / cluster
        # manager config (the deploy mode the north_rule ships under)
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches amortize per-batch serialization overhead on
        # the paths that still ship rows to Python: the N-Triples slow-line
        # parser, IRI rewriting, canonicalize's component kernel, the text
        # kernels (dedup, similarity, tokenize) and large synthetic corpora.
        # It was measured on the former pandas KG extraction (~+10-25%
        # throughput at local[4] vs the 10k default, interleaved). Text rows
        # are small, so a batch stays ~tens of MB.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # no per-Column Python stack walk + py4j round trips (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # JVM case mapping: no ICU table build on the first lower() (module docstring)
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # make the package importable on executors regardless of driver cwd
    spark.sparkContext.addPyFile(_package_zip())
    return spark
