"""Audited reads + append-only audit log.

Reference S7: plpgsql table functions ``get_dim_patients()`` etc.
(init.sql:170-192) log a READ row to ``audit_log`` before returning the
table, and the ETL writes LOAD rows (scripts/etl.py:75-89). Side effects
don't belong in the planner (SURVEY.md §4), so this is a thin Python
wrapper around the loader plus a local append-only log.

The log is one JSON-lines file, ``audit_log_path()/events.jsonl``. Each
event is a single ``os.write`` of one line on an ``O_APPEND`` descriptor,
fsynced before ``log_audit`` returns, so an event is durable before the
read it records releases any data. A single appended line cannot
interleave with another process's, and a module lock orders the writers
of one process; no Spark job runs and the directory holds one file
however many events are logged. Spark reads the file back with the
fixed ``AUDIT_SCHEMA``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..config import SCRATCH_DIR
from .loaders import load_table

AUDIT_SCHEMA = T.StructType([
    T.StructField("audit_id", T.StringType()),
    T.StructField("action_type", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("user_name", T.StringType()),
    T.StructField("action_timestamp", T.TimestampType()),
    T.StructField("details", T.StringType()),
])

_EVENTS_FILE = "events.jsonl"
_write_lock = threading.Lock()


def audit_log_path() -> str:
    return os.path.join(SCRATCH_DIR, "audit_log")


def log_audit(spark: SparkSession, action_type: str, table_name: str,
              user_name: str = "etl_process", details: str = "") -> None:
    """Append one event (init.sql:156-167 analog) and fsync it. ``spark``
    is unused; callers pass it so every audit call reads alike."""
    event = {
        "audit_id": str(uuid.uuid4()),
        "action_type": action_type,
        "table_name": table_name,
        "user_name": user_name,
        # an explicit offset: Spark parses it to the same instant whatever
        # the session time zone is
        "action_timestamp": dt.datetime.now(dt.timezone.utc).isoformat(),
        "details": details,
    }
    line = (json.dumps(event) + "\n").encode()
    path = audit_log_path()
    with _write_lock:
        os.makedirs(path, exist_ok=True)
        fd = os.open(os.path.join(path, _EVENTS_FILE),
                     os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            created = os.fstat(fd).st_size == 0
            os.write(fd, line)
            os.fsync(fd)
        finally:
            os.close(fd)
        if created:  # the new directory entry must be durable too
            dir_fd = os.open(path, os.O_RDONLY)
            try:
                os.fsync(dir_fd)
            finally:
                os.close(dir_fd)


def audited_read(spark: SparkSession, sf_dir: str | None, name: str,
                 user_name: str = "api_user") -> DataFrame:
    """READ-audited table access (init.sql:170-192 analog)."""
    log_audit(spark, "READ", name, user_name, f"sf_dir={sf_dir}")
    return load_table(spark, sf_dir, name)


def read_audit_log(spark: SparkSession) -> DataFrame:
    """Every logged event; a malformed line fails the read."""
    path = os.path.join(audit_log_path(), _EVENTS_FILE)
    if not os.path.exists(path):
        return spark.createDataFrame([], AUDIT_SCHEMA)
    return spark.read.schema(AUDIT_SCHEMA).option("mode", "FAILFAST").json(path)
