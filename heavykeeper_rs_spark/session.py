"""SparkSession factory tuned for the sketch workload.

Single place for the conf knobs that matter at scale (AQE, Arrow batch
size, shuffle partitions); tests and bench share it so plans are
comparable.

Python workers talk to the JVM over Unix-domain sockets
(``spark.python.unix.domain.socket.enabled``) in
``tempfile.gettempdir()``. Over loopback TCP, a reused worker whose
previous task computed for less than about 40 ms often waited about
40 ms (Linux's minimum delayed-ACK time) for its next task's first
input batch; a Unix-domain socket has no delayed ACK. Spark names each
socket ``<dir>/.<uuid4>.sock``, and a socket path must fit in 107
bytes, so the setting is made only when that name fits
(``unix_socket_fits``); otherwise the session keeps Spark's TCP
default and warns.
"""

from __future__ import annotations

import os
import tempfile
import uuid
import warnings

from pyspark.sql import SparkSession

# the longest AF_UNIX path: sun_path's 108 bytes less the trailing NUL
_SUN_PATH_MAX = 107


def unix_socket_fits(sock_dir: str) -> bool:
    """Whether Spark's socket name ``<sock_dir>/.<uuid4>.sock`` fits in
    an AF_UNIX path."""
    name = os.path.join(sock_dir, f".{uuid.uuid4()}.sock")
    return len(os.fsencode(name)) <= _SUN_PATH_MAX


def get_spark(
    app: str = "heavykeeper-rs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    sp = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    sock_dir = tempfile.gettempdir()
    if unix_socket_fits(sock_dir):
        b = b.config("spark.python.unix.domain.socket.enabled", "true").config(
            "spark.python.unix.domain.socket.dir", sock_dir
        )
    else:
        warnings.warn(
            f"temp dir {sock_dir!r} is too long for Unix-domain socket paths; "
            "Python workers use TCP",
            RuntimeWarning,
            stacklevel=2,
        )
    return b.getOrCreate()
