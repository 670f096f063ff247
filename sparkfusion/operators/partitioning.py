"""Scale-adaptive partition spreading for compute-heavy map stages.

The driver's test tables are single-row-group parquet files, and one row
group = one scan split: the whole table arrives as ONE partition no matter
how many cores the session has, so an expensive per-row expression (k-means
literal argmin, a 27-term entropy fold, a media decode) runs serially on one
core of 32 (guide §2: partitioning must derive from the input, not from a
constant tuned for either local mode or the cluster).

At production scale the same operator's input already carries hundreds of
scan partitions and a forced ``repartition(cores)`` would be a pure extra
shuffle — or worse, a parallelism REDUCTION. :func:`spread_for_compute`
therefore widens ONLY when the input is narrower than the core count, and is
a plan no-op otherwise. The repartition key is the caller's row key
(deterministic hash placement — never ``rand()``-derived, see SPARK-38388);
keyless calls use round-robin, which Spark makes retry-deterministic via its
sort-before-repartition.

Width is derived from SPARK'S OWN FILE INDEX (the file-scan relations'
bytes → the scan's split arithmetic, under any scheme), NOT from
``df.rdd.getNumPartitions()``: accessing ``.rdd`` on an AdaptiveSparkPlan
finalizes it, EXECUTING every upstream shuffle query stage, and that work is
thrown away when the caller's rebuilt plan runs (r13 advisor finding). Nor
from the root's ``stats()``: without cost-based optimization Spark sizes a
join as the product of its inputs. A frame with no file-scan leaf is
treated as narrow, which costs at most one extra exchange and never a
double execution.

The rows estimate also bounds the fan-out (``min_rows_per_part``): widening
a 5k-row input to 32 partitions is pure per-task overhead when each task
then spins a Python/Arrow worker for ~150 rows of work (r13 driver bench:
the multimodal paths showed the suite's worst 32-core scaling ratios,
0.28-0.38 — 32 workers spun up for ~1s of decode). The cap is derived from
the data (rows ÷ per-row-cost floor), never a constant partition count, so
at 10× the rows the same call fans out the full core width. Footers are
read only for that cap, and only for local files: a remote input gets none.
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import files_meta

#: how many parquet footers to read when estimating rows — beyond this the
#: mean of the sample is extrapolated (footer reads are metadata-only but
#: still one open() per new file; thousands of part files need no exactness)
_FOOTER_SAMPLE = 16

#: a file-scan leaf of the optimized plan, and its file-indexed relation
_SCAN_LEAF = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FILE_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"


def _local_path(uri: str) -> str | None:
    """Filesystem path of a ``file:`` URI (``file:/p`` or ``file:///p``,
    percent-escapes decoded) or of a bare path; None for other schemes."""
    parsed = urlparse(uri)
    if parsed.scheme == "file":
        return unquote(parsed.path)
    return None if parsed.scheme else uri


def _input_meta(df: DataFrame, count_rows: bool = True) -> tuple[int, int | None]:
    """(estimated scan splits, estimated rows | None) from the distinct
    relations of the optimized plan's file-scan leaves (a self-join's counts
    once) — pure metadata, runs no Spark job. Splits follow the scan's own
    packing arithmetic (``maxPartitionBytes`` / ``openCostInBytes``); rows
    (with ``count_rows``) come from local parquet footers, sampled and
    extrapolated past ``_FOOTER_SAMPLE`` files. A frame with no file-scan
    leaf (in-memory or checkpoint-rooted) reports (1, None): narrow."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    rels: list = []
    for leaf in map(leaves.apply, range(leaves.size())):
        if leaf.getClass().getName() != _SCAN_LEAF:  # checked before relation()
            continue
        rel = leaf.relation()
        if rel.getClass().getName() == _FILE_RELATION and not any(map(rel.equals, rels)):
            rels.append(rel)
    if not rels:
        return 1, None
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    files = [rel.inputFiles() for rel in rels]  # JVM arrays: len() is one call
    total_cost = sum(rel.sizeInBytes() for rel in rels)
    total_cost += conf.filesOpenCostInBytes() * sum(map(len, files))
    est_splits = max(1, -(-total_cost // conf.filesMaxPartitionBytes()))
    rows = None
    local = [_local_path(f) for fs in files for f in fs] if count_rows else []
    if local and all(local):
        try:
            sampled = files_meta(local[:_FOOTER_SAMPLE]).footer_rows()
            rows = sum(sampled) * len(local) // len(sampled)
        except (OSError, ValueError):  # gone or not parquet: bytes still stand
            pass
    return est_splits, rows


def _target_parts(df: DataFrame, min_rows_per_part: int) -> tuple[int, int]:
    """(input width estimate, capped target) — shared by the helpers below."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    est_splits, rows = _input_meta(df, count_rows=min_rows_per_part > 1)
    target = max(cores, est_splits)
    if rows is not None:
        target = min(target, max(1, -(-rows // min_rows_per_part)))
    return est_splits, target


def compute_width(df: DataFrame) -> int:
    """The partition count for a compute stage over ``df``: the session's
    core count, or the input's estimated scan splits when wider."""
    return _target_parts(df, 1)[1]


def spread_for_compute(
    df: DataFrame, *key_cols: str, min_rows_per_part: int = 1
) -> DataFrame:
    """Repartition ``df`` up to the session's core count iff its input is
    narrower; identity otherwise. Result-invariant: only placement changes,
    never values (callers are per-row maps or partitioning-invariant integer
    folds). ``min_rows_per_part`` caps the fan-out by the input's estimated
    rows (see module doc)."""
    est_splits, target = _target_parts(df, min_rows_per_part)
    if est_splits >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def repartition_for_compute(df: DataFrame, *key_cols: str) -> DataFrame:
    """``df.repartition(key_cols)`` with an EXPLICIT partition count, the
    :func:`compute_width` of ``df`` — for pipelines that need the hash
    co-partitioning downstream (their groupBys on the same key reuse the
    exchange) AND the pre-explode compute parallelism.

    A bare ``repartition(col)`` carries no user partition count, so AQE's
    coalescer is free to shrink it by bytes — and on the small single-split
    test parquet it shrinks to ONE partition, serializing the very
    hash/shingle stage the repartition was written to parallelize (measured
    r13: exploded_shingles ran 1-partition at sf0.1 despite its docstring).
    An explicit count is exempt from AQE coalescing; deriving it from the
    input width and core count keeps it scale-adaptive — at production the
    scan is already ≥ cores partitions and the count simply preserves that
    width, never a local constant."""
    return df.repartition(compute_width(df), *[F.col(c) for c in key_cols])


def copartition_for_compute(
    left: DataFrame, right: DataFrame, key: str
) -> tuple[DataFrame, DataFrame]:
    """Both sides of a CPU-dense equi-join, hash-repartitioned on ``key``
    to one EXPLICIT width: the wider of the two sides'
    :func:`compute_width`. Equal counts keep the sides
    co-partitioned (the join plans no further exchange), and an explicit
    count is exempt from AQE's byte-based coalescing, which would otherwise
    shrink a join whose shuffles are tiny but whose in-bucket work is
    quadratic down to a few tasks."""
    n = max(compute_width(left), compute_width(right))
    return left.repartition(n, F.col(key)), right.repartition(n, F.col(key))
