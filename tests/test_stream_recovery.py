"""Exactly-once crash recovery on the transformWithState / RocksDB path.

``session_timeout_tws`` (ValueState plus event-time timers) streams the
events table, split into time-ordered files, into a parquet file sink. One
run goes uninterrupted. A second run is SIGKILLed, JVM included, after
batch 2 commits, then resumed on the same checkpoint. The two sinks must
hold exactly the same rows.

They must be exactly equal, not just the same distinct rows: the file
source logs each batch's file list in the checkpoint before processing it,
so the resumed run replays the in-flight batch with the same files, and
batch boundaries, watermarks and timer firings all repeat. The file sink
commits through its ``_spark_metadata`` manifest, so files from a batch
that was mid-write at the kill are ignored by a manifest-aware read.

Run as a script (``python tests/test_stream_recovery.py SRC CP SINK``) it
is the crash run: it starts the query and kills its own process group once
batch 2 has committed.
"""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import sys
import time
from collections import Counter

N_FILES = 10
FILES_PER_TRIGGER = 2
KILL_AFTER_BATCH = 2
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
STATE_PARTITIONS = "2"


def _split_events(sf_dir: str, dst: str) -> None:
    """Write the events table as ``N_FILES`` time-ordered parquet files whose
    mtimes follow that order, which is the order the file source reads."""
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("ts")
    os.makedirs(dst)
    step = -(-events.num_rows // N_FILES)
    t0 = time.time() - N_FILES
    for i in range(N_FILES):
        path = os.path.join(dst, f"part-{i:05d}.parquet")
        pq.write_table(events.slice(i * step, step), path)
        os.utime(path, (t0 + i, t0 + i))


@contextlib.contextmanager
def _stream_confs(spark):
    """RocksDB state store and a small fixed state-partition count, restored
    on exit so the shared test session is left as it was found."""
    keys = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB,
        "spark.sql.shuffle.partitions": STATE_PARTITIONS,
    }
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _start(spark, src: str, cp: str, sink: str):
    from pyspark.sql import functions as F

    from sparkfusion.session import _ensure_read_confs, ts_column
    from sparkfusion.streaming.windows import session_timeout_tws

    _ensure_read_confs(spark)
    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(src)
        .withColumn("ts", ts_column(dict(static.dtypes)["ts"]))
    )
    sessions = session_timeout_tws(
        stream.withWatermark("ts", "1 hour").select(
            "user_id", "ts", F.unix_micros(F.col("ts")).alias("ts_us")
        ),
        gap_minutes=30,
    )
    return (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .start()
    )


def _run_to_end(spark, src: str, cp: str, sink: str) -> list[dict]:
    q = _start(spark, src, cp, sink)
    try:
        q.processAllAvailable()
        return q.recentProgress
    finally:
        q.stop()


def _rows(spark, sink: str) -> Counter:
    """The sink's committed rows as a multiset, read through the manifest."""
    tbl = spark.read.parquet(sink).toArrow()
    cols = sorted(tbl.column_names)
    return Counter(zip(*(tbl.column(c).to_pylist() for c in cols)))


def _crash_run(src: str, cp: str, sink: str) -> None:
    from sparkfusion.session import get_session

    spark = get_session("stream-recovery-crash", cpus=2)
    with _stream_confs(spark):
        q = _start(spark, src, cp, sink)
        while q.isActive:
            lp = q.lastProgress
            if lp and lp["batchId"] >= KILL_AFTER_BATCH:
                # no stop(), no cleanup: the driver and its JVM die together
                os.killpg(os.getpgrp(), signal.SIGKILL)
            time.sleep(0.05)
    raise RuntimeError("stream stopped before the kill batch")


def test_crash_and_resume_is_exactly_once(spark, sf_dir, tmp_path):
    src = str(tmp_path / "events")
    _split_events(sf_dir, src)
    with _stream_confs(spark):
        ref = _run_to_end(spark, src, str(tmp_path / "cp_ref"), str(tmp_path / "sink_ref"))
        data_batches = [p for p in ref if p["numInputRows"]]
        assert len(data_batches) > KILL_AFTER_BATCH + 1, data_batches

        cp, sink = str(tmp_path / "cp"), str(tmp_path / "sink")
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        crash = subprocess.run(
            [sys.executable, os.path.abspath(__file__), src, cp, sink],
            start_new_session=True,
            env={**os.environ, "PYTHONPATH": os.pathsep.join(
                filter(None, (root, os.environ.get("PYTHONPATH"))))},
            timeout=300,
        )
        assert crash.returncode == -signal.SIGKILL, crash.returncode

        resumed = _run_to_end(spark, src, cp, sink)
        # the kill left input behind, so the resume did recover something
        assert any(p["numInputRows"] for p in resumed), resumed

        want, got = _rows(spark, str(tmp_path / "sink_ref")), _rows(spark, sink)
    assert sum(want.values()) > 0
    extra = {k: n for k, n in got.items() if n > want.get(k, 0)}
    assert not extra, f"rows duplicated or invented by the resume: {list(extra)[:5]}"
    assert got == want, f"rows lost by the resume: {list(want - got)[:5]}"


if __name__ == "__main__":
    _crash_run(*sys.argv[1:4])
