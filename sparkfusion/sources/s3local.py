"""In-process S3 wire-protocol endpoint (moto) for exercising the boto3-native
connector (:mod:`sparkfusion.sources.s3py`) without external infrastructure.

This container has no real S3 and no hadoop-aws jar, so the only way to run
the S14/S15 surface END-TO-END — ranged GETs, multipart uploads, overwrite
sweeps — is against a local server speaking the S3 protocol. moto's
ThreadedMotoServer provides exactly that over plain HTTP on localhost, which
Spark's separate Python worker processes can reach (an in-process boto3 mock
could not cross the process boundary).

The server is a lazily-started process-wide singleton on a dynamically
allocated free port; it lives for the remainder of the process (daemon
thread) so lazily-evaluated DataFrames reading through it stay valid.
"""

from __future__ import annotations

import socket
import threading

_LOCK = threading.Lock()
_SERVER = None
_ENDPOINT: str | None = None

#: static throwaway credentials — moto accepts anything; passing them
#: explicitly keeps executor-side boto3 clients off the env/instance chain
CREDS = {"access_key": "sparkfusion-test", "secret_key": "sparkfusion-test"}


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def local_s3_endpoint() -> str:
    """Start (once) and return the endpoint URL of the in-process S3 server."""
    global _SERVER, _ENDPOINT
    with _LOCK:
        if _ENDPOINT is None:
            import logging

            from moto.server import ThreadedMotoServer

            # werkzeug logs every request at INFO even with verbose=False —
            # silence it so suite/bench output stays one-JSON-line clean
            logging.getLogger("werkzeug").setLevel(logging.ERROR)
            port = _free_port()
            _SERVER = ThreadedMotoServer(ip_address="127.0.0.1", port=port, verbose=False)
            _SERVER.start()
            _ENDPOINT = f"http://127.0.0.1:{port}"
    return _ENDPOINT


def local_s3_client():
    """boto3 client bound to the local endpoint (starting it if needed)."""
    from .s3py import s3_client

    endpoint = local_s3_endpoint()
    return s3_client({"endpoint_url": endpoint, **CREDS}), endpoint


def ensure_bucket(name: str):
    """Create-if-absent a bucket on the local endpoint; returns (client, endpoint)."""
    client, endpoint = local_s3_client()
    try:
        client.head_bucket(Bucket=name)
    except Exception:  # noqa: BLE001 - 404/NoSuchBucket
        client.create_bucket(Bucket=name)
    return client, endpoint
