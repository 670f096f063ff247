"""sparkfusion benchmark: one closed-loop client runs a workload's fixed
query list in passes over the suite's reference star-schema corpus.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one table

A run builds its inputs (outside every timed window), sets up the Spark
session, times one cold pass that collects every query's rows, checks them
against the suite's DuckDB oracle, runs a fixed number of warm-up passes,
then times warm passes for at least ``--seconds`` and at least four passes.
The seed permutes the query order of every pass. The last line of stdout is
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The full record
(spans, per-query times, contention, input row counts, oracle results) is
written to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import fcntl
import glob
import importlib.util
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402

#: a run (inputs already built) must end well inside three minutes
RUN_DEADLINE_S = 170
#: a run times at least this many warm passes, whatever ``--seconds`` says
MIN_PASSES = 4
#: warm-up passes before the timed ones. A fixed count, so every run times
#: passes at the same point of the JIT's warm-up curve: the pass time keeps
#: falling for about this many passes after the cold one.
WARMUP_PASSES = 5
#: a pass during which other processes, hypervisor steal included, took more
#: than this share of the machine's CPU is contended; it is timed but left
#: out of the figures when enough uncontended passes were taken
CONTENDED = 0.05
#: while fewer than MIN_PASSES timed passes are uncontended, timing goes on
#: for up to this many times ``--seconds``
MAX_STRETCH = 2

with open(os.path.join(HERE, "workloads.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = SPEC["workloads"]
try:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
        _BENCH = json.load(_f)
except OSError:
    _BENCH = {"run_seconds": 12, "end_to_end": [], "per_layer": []}
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def _load(name: str, path: str):
    """Import a repo module by file path (``bench.py``, ``tools/check_oracle.py``)."""
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def pin_environment(work: str) -> None:
    """Size Spark to this machine and keep every file it writes inside
    ``work``; must run before the JVM starts. Spark gets half the CPUs: the
    client Python, the JVM's JIT and GC threads and the Python workers need
    the rest, and with a task thread on every CPU the pass time follows the
    scheduler and the host's other tenants more than the program."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    heap_mb = min(1024, total_mb // 4)
    # the heap is committed and touched at start, so neither the footprint
    # nor the pass times depend on when the JVM decides to grow it
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:+AlwaysPreTouch"
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # room for the Python workers and the OS beside the heap
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    for d in ("tmp", "local", "io"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


# -- inputs -------------------------------------------------------------------


def _parquet_files(path: str) -> list[str]:
    """A table is one parquet file or a Spark-written directory of them."""
    return sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]


def footer_rows(data: str) -> dict[str, int]:
    """Row count of every table, read from the parquet footers."""
    import pyarrow.parquet as pq

    return {
        os.path.basename(t)[: -len(".parquet")]: sum(
            pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(t)
        )
        for t in sorted(glob.glob(os.path.join(data, "*.parquet")))
    }


def _run_to_end(cmd: list[str], timeout: float) -> None:
    """Run ``cmd`` in its own process group and wait until every process of
    the group (the JVM a Spark script starts included) has ended."""
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = p.wait(timeout=timeout)
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        while True:
            try:
                os.killpg(p.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
    if rc != 0:
        raise RuntimeError(f"{cmd} exited with {rc}")


def prepare_inputs(name: str, tiny: bool) -> tuple[str, dict[str, int]]:
    """The workload's input directory and its expected footer row counts.
    Scaled inputs are built once with ``tools/scale_testdata.py`` (key-shifted
    copies of the shipped corpus) and reused by later runs."""
    if tiny:
        spec = SPEC["tiny_input"]
        return os.path.join(HERE, "data", spec["base"]), spec["footer_rows"]
    wl = WORKLOADS[name]
    base, copies = wl["input"]["base"], wl["input"]["copies"]
    src = os.path.join(HERE, "data", base)
    if copies == 1:
        return src, wl["footer_rows"]
    dst = os.path.join(ROOT, ".perfbench_data", f"{base}x{copies}")
    done = dst + ".done"
    if not os.path.exists(done):
        shutil.rmtree(dst, ignore_errors=True)
        scale = os.path.join(ROOT, "tools", "scale_testdata.py")
        _run_to_end([sys.executable, scale, src, dst, str(copies)], timeout=600)
        open(done, "w").close()
    return dst, wl["footer_rows"]


# -- the run --------------------------------------------------------------------


def uncontended(passes: list[dict]) -> list[dict]:
    return [p for p in passes if p["foreign"] <= CONTENDED]


def steadiest(passes: list[dict]) -> list[dict]:
    """The passes the figures are taken from: the uncontended ones, or, when
    fewer than MIN_PASSES are, the MIN_PASSES least contended."""
    clean = uncontended(passes)
    if len(clean) >= MIN_PASSES:
        return clean
    return sorted(passes, key=lambda p: p["foreign"])[:MIN_PASSES]


class Run:
    def __init__(self, args, work: str, data: str):
        self.args = args
        self.queries = WORKLOADS[args.workload]["queries"]
        self.work = work
        self.data = data
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.tracer = probes.Tracer(f"{args.workload}-{args.seed}")
        self.tree = probes.ProcTree()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.outputs: dict = {}  # query -> rows collected by the first pass
        self.spark = None
        self.store = self.listener = None

    # -- one query / one pass -------------------------------------------------

    def _query(self, name: str, pass_id: str, traced: bool, collect: bool) -> float | None:
        """Build and run one query, with the noop sink or, when ``collect``,
        by collecting its rows for the oracle check; returns its latency, or
        None if it raised."""
        sc = self.spark.sparkContext
        self.attempted += 1
        try:
            with self.tracer.span("query", query=name, pass_id=pass_id) as q:
                with self.tracer.span("suite.build", query=name, pass_id=pass_id):
                    if traced:
                        sc.setJobGroup(f"{pass_id}/{name}/build", name)
                    df = self.qs[name](self.spark, self.data)
                with self.tracer.span("exec.action", query=name, pass_id=pass_id):
                    if traced:
                        sc.setJobGroup(f"{pass_id}/{name}/action", name)
                    if collect:
                        self.outputs[name] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            return q["end"] - q["start"]
        except Exception as e:  # a failing query is counted, never dropped
            self.failed += 1
            self.errors.append(f"{pass_id}/{name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def _pass(self, pass_id: str, traced: bool = False, collect: bool = False) -> dict:
        order = list(self.queries)
        self.rng.shuffle(order)
        if traced:
            self.store.new_jobs()  # jobs before this pass are not its own
            w0 = self.tree.worker_totals()
        box0, cpu0 = self.bench._cpu_sample(), self.tree.sample()
        with self.tracer.span("pass", pass_id=pass_id, traced=traced) as p:
            lat = {n: self._query(n, pass_id, traced, collect) for n in order}
        cpu1, box1 = self.tree.sample(), self.bench._cpu_sample()
        foreign = (box1[1] - box0[1]) - (cpu1 - cpu0)
        rec = {"id": pass_id, "wall": p["end"] - p["start"], "latency": lat,
               "cpu_s": probes.cpu_seconds(cpu1 - cpu0), "start": p["start"], "end": p["end"],
               "foreign": max(0, foreign) / max(1, box1[0] - box0[0])}
        if traced:
            rec["layers"] = self._layer_counts(rec, w0)
        return rec

    def _timed(self, tag: str, traced: bool,
               warmup: int = WARMUP_PASSES) -> tuple[list[dict], list[dict]]:
        """``warmup`` untimed passes, then timed passes for at least
        ``--seconds`` and until MIN_PASSES of them are uncontended, or for
        MAX_STRETCH times ``--seconds``: (timed, warm-up passes)."""
        warm = [self._pass(f"{tag}w{i}", traced) for i in range(warmup)]
        passes = []
        while True:
            passes.append(self._pass(f"{tag}{len(passes)}", traced))
            took = passes[-1]["end"] - passes[0]["start"]
            if len(passes) >= MIN_PASSES and took >= self.args.seconds and (
                    len(uncontended(passes)) >= MIN_PASSES
                    or took >= MAX_STRETCH * self.args.seconds):
                return passes, warm

    # -- correctness ------------------------------------------------------------

    def check(self) -> dict:
        """Every query's rows collected by the first pass against the DuckDB
        oracle, with the order-insensitive normalization of
        ``tools/check_oracle.py``. A mismatch counts as a failed query."""
        import duckdb

        from sparkfusion.session import STAR_TABLES
        from sparkfusion.suite import ORACLE_SF_ENV, oracle_sql

        normalize = _load("check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")).normalize
        os.environ[ORACLE_SF_ENV] = self.data  # derived-constant oracles see this corpus
        oracles = oracle_sql()
        con = duckdb.connect()
        for t in STAR_TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        status = {}
        with self.tracer.span("check"):
            for name in self.queries:
                got = self.outputs.get(name)
                if got is None:
                    status[name] = "raised"  # already counted as failed
                    continue
                if name == self.args.corrupt:
                    got = got.iloc[1:]  # self-test: a deliberately wrong output
                try:
                    ok = normalize(got) == normalize(con.sql(oracles[name]).df())
                    status[name] = "pass" if ok else "mismatch"
                except Exception as e:
                    status[name] = f"error: {type(e).__name__}: {str(e)[:300]}"
                if status[name] != "pass":
                    self.failed += 1
                    self.errors.append(f"check/{name}: {status[name]}")
        con.close()
        self.outputs.clear()
        return status

    # -- traced-pass attribution -----------------------------------------------

    def _layer_counts(self, p: dict, w0: tuple[int, float]) -> dict:
        """Per-layer totals for one traced pass."""
        out = {k: 0.0 for k in PER_LAYER}
        spans = [s for s in self.tracer.spans
                 if s.get("pass_id") == p["id"] and s["name"] in ("suite.build", "exec.action")]
        for s in spans:
            key = "suite.build_s" if s["name"] == "suite.build" else "exec.action_s"
            out[key] += s["end"] - s["start"]
        for job in self.store.new_jobs():
            phase = None
            if job["group"] and job["group"].startswith(p["id"] + "/"):
                phase = job["group"].rsplit("/", 1)[1]
            elif job["submitted"] is not None:
                # streaming micro-batches run under the stream's own group
                for s in spans:
                    if s["start"] - 0.001 <= job["submitted"] <= s["end"] + 0.001:
                        phase = "build" if s["name"] == "suite.build" else "action"
            if phase is None:
                continue
            if phase == "build":
                out["suite.build_jobs"] += 1
            for k, v in job.items():
                if k in out:
                    out[k] += v
        for b in self.listener.batches:
            if p["start"] <= b["start"] <= p["end"]:
                out["streaming.batches"] += 1
                for k, v in b.items():
                    if k in out:
                        out[k] += v
        out["streaming.overhead_s"] = out["streaming.trigger_s"] - out["streaming.add_batch_s"]
        out["functions.python_worker_cpu_s"] = self.tree.worker_totals()[1] - w0[1]
        out["cache.persisted_rdds"], out["cache.storage_bytes"] = self.store.cache()
        return out

    def _untraced_pass_s(self) -> tuple[float | None, str]:
        """``pass_s`` of the separate untraced run of this workload and seed,
        when one has been made in this checkout."""
        path = artifact_path(self.args, trace=0)
        try:
            with open(path) as f:
                return json.load(f)["end_to_end"]["pass_s"], os.path.basename(path)
        except (OSError, KeyError, ValueError):
            return None, ""

    def _attach_probes(self) -> None:
        self.store = probes.StatusStore(self.spark)
        self.listener = probes.make_stream_listener()
        self.spark.streams.addListener(self.listener)

    def execute(self, expected_rows: dict[str, int]) -> dict:
        self.bench = bench = _load("bench", os.path.join(ROOT, "bench.py"))
        rows = footer_rows(self.data)
        if rows != expected_rows:
            raise RuntimeError(f"input footer rows {rows} != expected {expected_rows}")
        load0 = bench._loadavg()
        box0, own0 = bench._cpu_sample(), bench._own_cpu()
        self.tree.start()

        with self.tracer.span("setup") as setup:
            with self.tracer.span("session.get_session") as gs:
                from sparkfusion.session import get_session

                self.spark = get_session("perfbench")
            from sparkfusion.suite import queries

            self.qs = queries()
        from pyspark import SparkContext

        import sparkfusion.suite.sources_suite as sources_suite

        # file-producing queries write under IO_DIR; keep it in the work dir
        sources_suite.IO_DIR = os.path.join(self.work, "io")
        self.tree.jvm_pid = SparkContext._gateway.proc.pid

        first = self._pass("first", collect=True)
        checks = self.check()
        warmup = WARMUP_PASSES
        baseline, baseline_src = None, ""
        if self.trace:
            baseline, baseline_src = self._untraced_pass_s()
            if baseline is None:
                # no separate untraced run yet: time untraced passes here,
                # before any probe is attached
                base_passes, _ = self._timed("untraced", False)
                baseline = statistics.median(p["wall"] for p in steadiest(base_passes))
                baseline_src = "this run, before the probes were attached"
                warmup = 0
            self._attach_probes()
        self.tree.reset_peak()  # the first pass's collected rows are not the workload's
        timed, warm = self._timed("traced" if self.trace else "timed", self.trace, warmup)
        passes = steadiest(timed)
        box1, own1 = bench._cpu_sample(), bench._own_cpu()
        self.tree.stop()

        span = box1[0] - box0[0]
        foreign = max(0, (box1[1] - box0[1]) - (own1 - own0))
        foreign_frac = round(foreign / span, 4) if span > 0 else -1.0
        per_query = {q: [p["latency"][q] for p in passes if p["latency"][q] is not None]
                     for q in self.queries}
        lat = [v for vs in per_query.values() for v in vs]
        # per-query medians first: with a few queries of very different
        # cost, a median over all samples jumps between queries from run to run
        query_med = [statistics.median(vs) for vs in per_query.values() if vs]
        e2e = {
            "setup_s": setup["end"] - setup["start"],
            "pass_s": statistics.median(p["wall"] for p in passes),
            "peak_rss_mb": self.tree.peak_rss / 2**20,
        }
        # these swing too much between runs on a shared host to carry a
        # bound, so they are reported with the layers: the cold pass and
        # single queries, and the process tree's CPU, which includes the
        # JIT compiling in the background on the CPUs Spark leaves free
        unbound = {
            "cold.first_pass_s": first["wall"],
            "process.cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "exec.query_p50_s": statistics.median(query_med),
            "exec.query_tail_s": max(query_med),
        }
        layer = {}
        if self.trace:
            layer = {k: statistics.fmean(p["layers"][k] for p in passes)
                     for k in PER_LAYER if k not in unbound}
            layer.update(unbound)
            layer["session.get_session_s"] = gs["end"] - gs["start"]
            # counted over the whole run, and read after the last pass
            layer["functions.python_workers_started"] = self.tree.worker_totals()[0]
            for k in ("cache.persisted_rdds", "cache.storage_bytes"):
                layer[k] = timed[-1]["layers"][k]
            layer["trace.pass_s"] = e2e["pass_s"]
            layer["trace.overhead_s"] = e2e["pass_s"] - baseline
        return {
            "workload": self.args.workload, "seed": self.args.seed, "tiny": self.args.tiny,
            "trace": self.trace, "seconds": self.args.seconds, "queries": self.queries,
            "load_shape": SPEC["load_shape"], "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "input_dir": os.path.relpath(self.data, ROOT), "footer_rows": rows,
            "checks": checks, "first_pass": first,
            "warmup_passes": [p["wall"] for p in warm], "passes": timed,
            "kept_passes": [p["id"] for p in passes],
            "latency_per_query": per_query, "latency_samples": len(lat),
            "peak_mb_by_process": self.tree.peak_parts,
            "failed_frac": self.failed / self.attempted, "errors": self.errors,
            "loadavg_start": load0, "foreign_cpu_frac": foreign_frac,
            "contended": bench._is_contended(foreign_frac, load0),
            "untraced_pass_s": baseline, "untraced_pass_s_from": baseline_src,
            "end_to_end": e2e, "unbound": unbound, "per_layer": layer, "spans": self.tracer.spans,
        }

    def close(self) -> None:
        """Stop the session, the JVM and every process below this one."""
        self.tree.stop()
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
                gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    gw.proc.wait(timeout=30)
                except Exception:
                    gw.proc.kill()
                    gw.proc.wait()
        kill_tree()


def kill_tree(deadline: float = 15.0) -> None:
    """SIGKILL every live descendant and wait until they are gone."""
    end = time.time() + deadline
    while time.time() < end:
        left = [p for p in probes.descendants(probes.read_procs(), os.getpid()) if p != os.getpid()]
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _watchdog() -> None:
    print(f"perfbench: run exceeded {RUN_DEADLINE_S}s; stopping", file=sys.stderr)
    kill_tree()
    os._exit(3)


def artifact_path(args, trace: int) -> str:
    tiny = "-tiny" if args.tiny else ""
    return os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}{tiny}-trace{trace}.json")


def run_all(args) -> int:
    """Every workload in turn, each in its own process (one JVM at a time);
    prints every end-to-end metric with its unit, ``failed_frac`` included."""
    summary, rc = {}, 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        if args.tiny:
            cmd.append("--tiny")
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"perfbench: {name} exited with {out.returncode}", file=sys.stderr)
            rc = 1
            continue
        res = json.loads(lines[-1])
        metrics = dict(res["metrics"])
        metrics["failed_frac"] = {"value": res["failed"] / res["attempted"], "unit": "ratio"}
        summary[name] = metrics
        for metric, m in metrics.items():
            print(f"{name:16s} {metric:14s} {m['value']:12.4f} {m['unit']}")
        rc |= 0 if res["correct"] else 1
    print(json.dumps(summary), flush=True)
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1, help="permutes the query order of every pass")
    ap.add_argument("--seconds", type=float, default=_BENCH["run_seconds"],
                    help="least time the warm passes are timed for")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="run on the shipped sf0.001 corpus (self-test)")
    ap.add_argument("--corrupt", metavar="QUERY",
                    help="corrupt this query's output before the oracle check (self-test)")
    args = ap.parse_args(argv)

    missing = [p for p in ("BENCHMARK.json", "sparkfusion", "bench.py",
                           "tools/check_oracle.py", "tools/scale_testdata.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a sparkfusion checkout (missing {missing})",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    top = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(top, exist_ok=True)
    # one JVM at a time in this checkout; the lock is held until this process exits
    lock = open(os.path.join(top, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    work = os.path.join(top, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    data, expected_rows = prepare_inputs(args.workload, args.tiny)
    os.chdir(work)
    sys.path.insert(0, ROOT)
    timer = threading.Timer(RUN_DEADLINE_S, _watchdog)
    timer.daemon = True
    timer.start()
    run = Run(args, work, data)
    try:
        art = run.execute(expected_rows)
    finally:
        run.close()
        timer.cancel()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.dirname(artifact_path(args, args.trace)), exist_ok=True)
    with open(artifact_path(args, args.trace), "w") as f:
        json.dump(art, f, indent=1, default=str)
    if art["contended"]:
        print(f"perfbench: contended run (foreign cpu {art['foreign_cpu_frac']})", file=sys.stderr)
    for err in art["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    names = PER_LAYER if args.trace else END_TO_END
    values = art["per_layer"] if args.trace else art["end_to_end"]
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
