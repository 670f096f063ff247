"""Best-effort discovery of a ``google.protobuf`` runtime.

PySpark 4's ``transformWithStateInPandas`` talks a protobuf wire protocol
(``pyspark.sql.streaming.proto.StateMessage_pb2``) between the Python
workers and the JVM state store, so the operator is unusable without the
protobuf runtime package.  This container has no package index, but the
pure-Python protobuf runtime is commonly present on hosts as a vendored
copy inside other public SDK installations (protobuf is BSD-licensed and
redistributed that way by design).  This module probes those locations and,
when a copy is found, makes it importable.

Two knobs, both public protobuf/PySpark mechanisms — nothing proprietary:

* ``sys.path`` **append** (never prepend — a real site-packages install
  must always win) of the directory whose ``google/protobuf`` subtree
  contains ``internal/builder.py`` (the marker of a modern, gencode-
  compatible runtime; ancient protobuf-3-era vendored copies lack it and
  are rejected).
* ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK=true`` — protobuf's OWN
  documented escape hatch (``google/protobuf/runtime_version.py``) for
  running gencode against a slightly older same-major runtime.  PySpark's
  generated ``StateMessage_pb2`` pins the protoc version it was built
  with; a vendored runtime one minor version behind is wire-compatible
  for this proto (no new field types), so the strict check is safely
  waived.  Only set when we fall back to a discovered copy — a properly
  installed protobuf keeps full validation.

Search order: ``SPARKFUSION_PROTOBUF_PATH`` (explicit operator override,
also settable cluster-wide via ``spark.executorEnv``), then the known
vendored locations.

Driver vs workers: calling :func:`ensure_protobuf_runtime` fixes the
CURRENT process only.  Spark spawns fresh Python processes for the TWS
driver worker (``transform_with_state_driver_worker``, which imports the
proto at module load) and the executor workers; those inherit env from the
captured UDF ``envVars``.  Use :func:`worker_env_overrides` to obtain the
``PYTHONPATH`` / version-check entries that must be merged into
``sc.environment`` BEFORE the TWS function is created (pyspark snapshots
``sc.environment`` into the UDF at creation time).
``streaming/windows.py _transform_with_state`` is the one place that does
this, and it restores the previous entries so the mutation stays scoped.
"""

from __future__ import annotations

import os
import sys

__all__ = ["ensure_protobuf_runtime", "worker_env_overrides"]

# Public SDKs that vendor the pure-python protobuf runtime. Extend via
# SPARKFUSION_PROTOBUF_PATH rather than editing this list on a cluster.
_VENDORED_ROOTS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)

_DISABLE_FLAG = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"

# Cached (ok, extra_path) after the first probe; discovery touches the
# filesystem and mutates sys.path, so run it once per process.
_resolved: "tuple[bool, str | None] | None" = None


def _probe() -> "tuple[bool, str | None]":
    try:
        import google.protobuf  # noqa: F401 — properly installed

        return True, None
    except ImportError:
        pass

    candidates = []
    override = os.environ.get("SPARKFUSION_PROTOBUF_PATH")
    if override:
        candidates.append(override)
    candidates.extend(_VENDORED_ROOTS)

    for root in candidates:
        marker = os.path.join(root, "google", "protobuf", "internal", "builder.py")
        if not os.path.isfile(marker):
            continue
        os.environ.setdefault(_DISABLE_FLAG, "true")
        sys.path.append(root)
        try:
            import google.protobuf  # noqa: F401

            return True, root
        except ImportError:
            sys.path.remove(root)
    return False, None


def ensure_protobuf_runtime() -> "tuple[bool, str | None]":
    """Make ``google.protobuf`` importable in THIS process if possible.

    Returns ``(ok, extra_path)``: ``ok`` is whether the import now works;
    ``extra_path`` is the sys.path entry that had to be appended (``None``
    when protobuf was already properly installed — in that case no version
    check is waived and workers need no env overrides either).
    """
    global _resolved
    if _resolved is None:
        _resolved = _probe()
    return _resolved


def worker_env_overrides(extra_path: "str | None") -> "dict[str, str]":
    """Env entries that spawned Python workers need to see the same runtime.

    Merge these into ``sc.environment`` before creating the stateful
    function (PYTHONPATH values are MERGED by Spark's worker factory with
    its own computed python path, not overridden), and restore the previous
    entries afterwards so the discovery never leaks into unrelated UDFs.
    Empty when protobuf is properly installed.
    """
    if extra_path is None:
        return {}
    return {"PYTHONPATH": extra_path, _DISABLE_FLAG: "true"}
