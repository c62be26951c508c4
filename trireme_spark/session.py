"""SparkSession factory with the engine's pinned configs (SURVEY.md §4).

Two entry points:

* :func:`get_spark` — build our own tuned local session (tests, bench.py).
* :func:`prep` — runtime-normalize a session we did NOT build (the driver's):
  only runtime-settable confs, so it is safe on any live session.

Scale notes (100 TB design, tested on local[32]):
* ``spark.sql.adaptive.enabled`` — AQE coalesces post-shuffle partitions and
  splits skewed joins at runtime; this is the primary knob that lets the same
  declarative plans run at sf0.001 and at cluster scale unchanged.
* ``spark.sql.shuffle.partitions`` — local default 200 is pure overhead at
  fixture scale (BASELINE.md: the single biggest local lever); on a real
  cluster you'd size this ~2-3× total cores and let AQE coalesce down.
* UTC session timezone — oracle parity for all date/time functions
  (DuckDB's naive timestamps behave like UTC wall-clock).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import weakref
import zipfile

from pyspark.sql import SparkSession


def shuffle_width() -> int:
    """``spark.sql.shuffle.partitions`` for engine sessions and queries.

    Default 32: at sf0.1 on local[32] a 2×-cores width (64) lost every
    cold bench trial to 32 (8.39–9.20 s vs 9.24–9.61 s); the extra reduce
    tasks are scheduling overhead and AQE coalesces either way. On a real
    cluster set ``TRIREME_SHUFFLE_WIDTH`` to ~2-3× total cores (or total
    shuffle bytes / 256 MB) and let AQE coalesce down.
    """
    return int(os.environ.get("TRIREME_SHUFFLE_WIDTH") or 32)


def get_spark(
    app_name: str = "trireme-spark",
    cpus: str | int | None = None,
    driver_memory: str = "8g",
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_width()))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def prep(spark: SparkSession) -> SparkSession:
    """Normalize runtime conf on a session we did not create.

    Only runtime-settable confs here — never static ones. Idempotent and
    cheap; called by every registered query so driver-run results match the
    DuckDB oracle regardless of the driver session's defaults.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # events.parquet carries TIMESTAMP(NANOS); Spark 4 errors without this
    # (see sources/io.py:table).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    width = str(shuffle_width())  # a malformed value raises, as in get_spark
    try:
        spark.conf.set("spark.sql.shuffle.partitions", width)
    except Exception:
        pass  # immutable in some environments; harmless
    _ship_package(spark)
    return spark


# session -> shipped zip path. Weak keys: an entry lives exactly as long as
# its session object, so a later session never inherits a dead one's entry
# (an ``id()`` can be reused once its object is collected).
_SHIPPED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _ship_package(spark: SparkSession) -> None:
    """Make ``trireme_spark`` importable on Python UDF workers.

    The driver may build its session from a cwd where this repo is not on
    ``sys.path``; cloudpickled UDFs then fail with ModuleNotFoundError on the
    workers. ``addPyFile`` is the runtime-settable fix and is also exactly how
    the package ships to executors on a real multi-node cluster. The zip name
    is content-hashed so edits during one Python process get a fresh file,
    and re-adding the same name to a live session is a no-op.
    """
    if spark in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    members = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                members.append(os.path.join(root, fn))
    digest = hashlib.sha256()
    for path in sorted(members):
        with open(path, "rb") as f:
            digest.update(path.encode())
            digest.update(f.read())
    zpath = os.path.join(
        tempfile.gettempdir(), f"trireme_spark_{digest.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for path in sorted(members):
                arcname = os.path.join(
                    "trireme_spark", os.path.relpath(path, pkg_dir)
                )
                zf.write(path, arcname)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED[spark] = zpath
