"""Driver-parity gate: the external driver runs every query on its OWN plain
SparkSession (no sparkfusion confs). Any query that silently depends on
``get_session()``'s confs passes local checks but fails the driver — the r5
failure mode. This test runs the conf-risk slice (queries that never route a
read through ``table()``/``star_sql()``, i.e. the ``_ensure_read_confs``
bypass set, plus the three r5 driver-red sources queries) through
``tools/check_oracle.py --plain`` in a SUBPROCESS, so the session really is
plain rather than the test-session singleton."""

from __future__ import annotations

import os
import subprocess
import sys

# queries whose bodies never call table()/star_sql()/events_with_ts directly
# (AST scan; some route confs through module helpers — those passing here is
# the proof), plus the r5 driver-mismatch set.
PLAIN_SLICE = [
    "s7_memory_batch",
    "s8_literal_dataframe",
    "cal1_calendar_dim",
    "s21_python_datasource",
    "s22_python_stream_source",
    "s23_jsonl_sink_roundtrip",
    "x3_udf_struct_1brc",
    "ts1_resample_gapfill",
    "ts4_ohlc_hourly",
    "fn1_funnel",
    "scd2_user_state",
    "j9_asof_join",
    "w7_running_distinct",
    "text_pii_scan",
    "text_corpus_stats",
]


# Recomputed each round: registered-names minus the union of ALL driver
# samples (CORRECTNESS_r01..r09). As of driver round 10 that union covers
# every registered query (322/322) — the never-sampled set is EMPTY, so the
# old per-query backlog is retired. What remains is the STANDING conf-risk
# class below: queries whose session dependencies (RocksDB state store,
# streaming checkpoints, vendored protobuf runtime, Python DataSource
# registration, runtime read confs) can regress between driver samples in
# ways only a fresh PLAIN session exposes (the r4/r5 failure mode). These
# run every round regardless of sampling history; any NEW query lands here
# until a driver round has sampled it (regeneration rule: round rhythm).
NEVER_SAMPLED: list[str] = [  # recomputed r15 (driver r12): the r12 sample
    # drew dedup_cosine_banded (green), so every registered query has at
    # least one driver CORRECTNESS row — the list holds only round-new
    # registrations until the next driver sample
    "sim_ivfpq_batch_probe",
]

CONF_RISK_STANDING = [
    "stream_cdc_keep_latest",
    "stream_ivfpq_ingest",
    "stream_recent_events_tws",
    "stream_session_timeout_tws",
    "stream_stateful_counts_tws",
    "stream_stream_left_outer",
    "stream_user_type_counts_tws",
    "stream_tumbling_window",
    "stream_dedup",
    "s21_python_datasource",
    "s22_python_stream_source",
    "s24_s3_native_roundtrip",
    "s27_s3_stream_sink_roundtrip",
    "sim_ivfpq_store_probe",
    "m3_time_travel_read",
]


def _run_plain(queries: list[str], timeout: int = 600) -> None:
    proc = subprocess.run(
        [
            sys.executable,
            "tools/check_oracle.py",
            "/root/testdata/sf0.01",
            *queries,
            "--plain",
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    tail = "\n".join(proc.stdout.splitlines()[-35:])
    assert proc.returncode == 0, f"plain-session parity failed:\n{tail}\n{proc.stderr[-2000:]}"
    assert f"{len(queries)} passed, 0 failed" in proc.stdout, tail


def test_plain_session_slice_matches_oracle():
    _run_plain(PLAIN_SLICE)


def test_plain_session_never_driver_sampled():
    """Fresh-process plain-session run of every never-driver-sampled query
    (r8 verdict item 1) plus the standing conf-risk class — streaming/tws
    carry the most session-state risk and re-run every round even though
    the driver's sample union now covers the whole registry."""
    _run_plain(sorted(set(NEVER_SAMPLED) | set(CONF_RISK_STANDING)), timeout=1200)
