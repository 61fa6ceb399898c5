"""Table catalog over the driver-generated parquet test data.

``load_table`` gives the query layer one entry point per table of the
star schema + extension tables (TESTDATA.md). Scans stay lazy DataFrames so
Catalyst keeps predicate pushdown / column pruning / partition pruning
on every downstream query.

Schema cache. ``spark.read.parquet(path)`` runs one Spark job to read
parquet footers and infer the schema, on every call. ``table_schema``
runs it once per table and session and keeps the inferred
``StructType``; later loads pass it to ``spark.read.schema(...)``,
which runs no job. The entry's key is

- the table path;
- a stamp ``(file, size, st_mtime_ns)`` of every data file under the
  path (names starting with ``_`` or ``.`` are skipped, as Spark skips
  them), so a rewrite, an added or a removed part file re-infers;
- the session's values of ``_SCHEMA_CONFS``, the parquet confs that
  change the inferred columns or types.

Entries belong to the session that inferred them (a
``WeakKeyDictionary`` keyed by the ``SparkSession``), and a new session
re-infers: a conf value alone does not pin the schema, since
``nanosAsLong`` is a no-op when set after start-up
(``normalize_event_time``). Each session holds one entry per path,
replaced when its key changes; the map is shared by threads and
guarded by a lock.

Not covered: a rewrite that keeps every file's size and ``mtime_ns``
identical goes unseen (the same limit Spark's own ``FileStatusCache``
has), and the stamp reads the path with ``os`` calls, so table paths
must be local.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at *any* scale factor; the fact
# tables (orders, lineitem, events, documents, embeddings) scale with SF
# and must never be broadcast.
BROADCASTABLE = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the runtime-settable confs this engine depends on.

    The driver may hand us a session built without cdc_spark.session's
    defaults; these three are SQL confs (settable post-startup) and
    load-bearing: nanos parquet timestamps (events table), UTC
    timestamps (oracle comparability), Arrow (pandas UDF transfer).
    """
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # noqa: BLE001 — conf may be locked; best effort
            pass


def normalize_event_time(df: DataFrame, *cols: str) -> DataFrame:
    """Canonicalize event-time columns to TIMESTAMP (with local tz).

    The driver's events.parquet stores TIMESTAMP(NANOS); depending on
    how the session was built, Spark surfaces it as either

    - ``bigint`` (``spark.sql.legacy.parquet.nanosAsLong=true`` set at
      session build — our own sessions), or
    - ``timestamp_ntz`` (pyspark 4.1 default read path — the driver's
      session; the legacy conf is a no-op when set post-startup).

    Watermarks/stream-stream joins require TIMESTAMP, so both shapes
    are converted here. With session tz pinned to UTC
    (``ensure_session_confs``) the NTZ→LTZ cast preserves wall-clock
    values, so results stay comparable to the UTC-naive DuckDB oracle.
    Integer DIV keeps full precision on the bigint path; a double
    division would not (epoch-nanos exceeds 2^53).
    """
    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# parquet reader confs that decide the inferred schema's columns or types
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# session -> {path: (key, schema)}; see the module docstring
_schemas: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()
_schemas_lock = threading.Lock()


def _file_stamp(path: str) -> tuple[tuple[str, int, int], ...]:
    """``(file, size, st_mtime_ns)`` of every data file under ``path``."""
    if os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files += [
                os.path.join(root, n)
                for n in names
                if not n.startswith(("_", "."))
            ]
    else:
        files = [path] if os.path.exists(path) else []
    stamp = []
    for f in sorted(files):
        st = os.stat(f)
        stamp.append((f, st.st_size, st.st_mtime_ns))
    return tuple(stamp)


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The table's raw parquet schema, inferred once per session and
    file stamp (module docstring). Callers must not mutate it."""
    path = table_path(sf_dir, name)
    # stamp before inferring: a rewrite racing the inference then leaves
    # an entry that is already stale, never a new stamp on an old schema
    confs = tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS)
    key = (_file_stamp(path), confs)
    with _schemas_lock:
        hit = _schemas.get(spark, {}).get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    with _schemas_lock:
        _schemas.setdefault(spark, {})[path] = (key, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One catalog table as a lazy scan, event time canonicalized.

    Its schema comes from ``table_schema``: the first load of a table
    in a session infers it (one Spark job), later loads of unchanged
    files run no job. A rewritten table is re-inferred on its next
    load, unless the rewrite keeps every file's size and ``mtime_ns``.
    """
    ensure_session_confs(spark)
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    return normalize_event_time(df, "ts")
