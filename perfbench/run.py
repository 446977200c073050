"""Repository benchmark: batch near-dup dedup through ``run_pipeline``.

    python3 perfbench/run.py --workload batch_dense --seed 1 --seconds 15 \
        --trace 0

Run from the root of a checkout. One invocation = one workload in one fresh
Spark session at ``local[<cpus>]``:

1. read the host (``tools/host_probe.py`` busy loop, load average);
2. generate the corpus from ``--seed`` (``corpus.synthesize_code_files``
   with the workload's ``CorpusSpec``) and write it as multi-file parquet;
3. set up: start the session, run one untimed warm-up operation
   (``setup_s``);
4. build the correctness oracle (untimed, ``checks.Oracle``);
5. closed loop for ``--seconds``: one operation after another, each read
   -> ``run_pipeline`` -> materialized clustered output, each graded by
   the oracle. With ``--trace 1`` the first operation is untraced (the
   overhead baseline, Spark job counts) and the rest run with the layer
   wrappers of ``spans.py`` installed.

Prints one JSON object as the last stdout line; details (per-operation
records, host reading, spans) go to ``perfbench/results/``. See
perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# stop starting operations once the invocation has run this long, so a
# slow (contended) host still exits well inside the 180 s run limit
_DEADLINE_S = 140.0


@dataclass(frozen=True)
class Workload:
    spec: dict[str, Any]          # CorpusSpec fields (seed comes from --seed)
    tableio: bool                 # checkpoint-store mode (io=TableIO)


# Sizes are small because per-operation cost is dominated by a fixed
# ~76-100 Spark jobs, not by bytes, and every invocation must fit the run
# budget; see README.md.
WORKLOADS = {
    # long files, few duplicates, TableIO checkpoint store: the per-byte
    # layers and the per-stage table writes do the work
    "batch_sparse": Workload(
        spec=dict(n_base=250, n_repos=40, exact_dup_rate=0.02,
                  near_dup_rate=0.05, license_fraction=0.05,
                  vendored_files=3, vendored_repos=4, invalid_rows=6,
                  lines_lo=150, lines_hi=400),
        tableio=True),
    # short files, heavy duplication, fused one-shot path: the skew case
    # (hot LSH bands) — exact collapse, LSH, verify, SimHash, suffix, CC
    "batch_dense": Workload(
        spec=dict(n_base=450, n_repos=80, exact_dup_rate=0.6,
                  near_dup_rate=0.8, license_fraction=0.9,
                  vendored_files=20, vendored_repos=60, invalid_rows=12,
                  lines_lo=8, lines_hi=30),
        tableio=False),
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


# -- process accounting (/proc; psutil is not installed) -------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: pages shared between the forked
    Python workers count once in total, not once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed resident memory (PSS) of every process this one started
    (the driver JVM and its Python workers), sampled every ``interval``
    seconds."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _pss_bytes(descendants()))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc: Any) -> None:
        self._stop.set()
        self._thread.join()


# -- set-up ----------------------------------------------------------------

def pin_environment(work: str) -> None:
    """Python workers import the engine from the checkout; Spark scratch
    space and temp files stay inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for key, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[key] = os.path.join(work, sub)
        os.makedirs(os.environ[key], exist_ok=True)


def write_corpus(pdf: Any, path: str, n_files: int = 8) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        part = pdf.iloc[i * step:(i + 1) * step]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def start_session(work: str) -> Any:
    from email_sanitizer_api_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{_cpus()}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Dderby.system.home={work}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: Any) -> None:
    """Stop Spark, then the gateway JVM and every process it left behind,
    and wait for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = descendants()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


# -- one operation -----------------------------------------------------------

class SparkCounter:
    """Jobs / executed stages / completed tasks of a job-id range, read from
    the driver's status tracker (the pipeline's generator threads carry no
    job group, so ranges, not groups)."""

    def __init__(self, spark: Any) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def last_job(self) -> int:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(self.tracker.getJobIdsForGroup(None), default=-1)

    def count(self, first: int, last: int) -> dict[str, int]:
        jobs, stages, tasks = 0, set(), 0
        for job in range(first, last + 1):
            info = self.tracker.getJobInfo(job)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks and sid not in stages:
                    stages.add(sid)
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": len(stages), "tasks": tasks}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


@dataclass
class Op:
    index: int
    traced: bool
    wall_s: float = 0.0
    error: str | None = None
    check: dict[str, Any] = field(default_factory=dict)
    spark: dict[str, int] = field(default_factory=dict)
    tableio: dict[str, float] = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.check.get("failures"))


def run_op(spark: Any, wl: Workload, input_dir: str, work: str, op: Op,
           oracle: Any, counter: SparkCounter, tracer: Any = None) -> None:
    """Read -> run_pipeline -> materialized clustered output (timed, traced
    when ``op.traced``), then grade it (untimed). Exceptions are recorded
    as a failed operation."""
    from email_sanitizer_api_spark import pipeline
    from email_sanitizer_api_spark.tableio import TableIO

    warehouse = os.path.join(work, f"warehouse-{op.index}")
    first_job = counter.last_job() + 1
    t0 = time.perf_counter()
    try:
        with (tracer.traced(op.index) if op.traced else nullcontext()):
            files = spark.read.parquet(input_dir)
            io = TableIO(spark, warehouse) if wl.tableio else None
            res = pipeline.run_pipeline(spark, files, io=io)
            res.files_clustered.count()
            res.clusters.count()
        op.wall_s = time.perf_counter() - t0
        last_job = counter.last_job()
        if oracle is not None:
            fc = res.files_clustered.select(
                "repo", "path", "content_sha256", "cluster_id").toPandas()
            op.check = oracle.check(fc)
        op.spark = counter.count(first_job, last_job)
        if io is not None:
            done = [r for r in io.manifest_rows() if "wall_s" in r]
            op.tableio = {"writes": len(done),
                          "write_s": sum(r["wall_s"] for r in done),
                          "bytes_written": _dir_bytes(warehouse)}
    except Exception as e:  # one failed operation must not end the run
        op.wall_s = op.wall_s or time.perf_counter() - t0
        op.error = f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        spark.catalog.clearCache()
        shutil.rmtree(warehouse, ignore_errors=True)


# -- metrics -----------------------------------------------------------------

def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(ops: list[Op], n_files: int, setup_s: float,
               peak_rss: int) -> dict[str, dict[str, Any]]:
    walls = [o.wall_s for o in ops if not o.traced]
    wall = _median(walls)
    recall = _median([o.check["recall"] for o in ops if o.check])
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "files_per_s": {"value": n_files / wall if wall else 0.0,
                        "unit": "1/s"},
        "dup_pair_recall": {"value": recall, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }


_LAYERS = ("validate", "normalize", "exact", "signatures", "lsh", "verify",
           "simhash", "suffix", "cluster", "prune", "tableio", "pipeline")
_LAYER_COUNTS = ("validate.invalid_rows", "exact.reps_out",
                 "signatures.rows_out", "lsh.candidates", "verify.accepted",
                 "simhash.pairs", "suffix.pairs", "cluster.edges_in",
                 "cluster.components", "cluster.largest", "prune.keepers")


def per_layer(ops: list[Op], spans: list[dict[str, Any]], start_s: float,
              valid_rows: int) -> dict[str, dict[str, Any]]:
    from spans import generators_seconds, layer_counts, self_times

    traced = [o for o in ops if o.traced]
    base = [o for o in ops if not o.traced]
    per_op = []
    for o in traced:
        mine = [s for s in spans if s["run"] == o.index]
        row = {f"{k}.self_s": v for k, v in self_times(mine).items()}
        row.update(layer_counts(mine))
        row["pipeline.generators_s"] = generators_seconds(mine)
        per_op.append(row)

    def med(key: str) -> float:
        return _median([r.get(key, 0.0) for r in per_op])

    m: dict[str, dict[str, Any]] = {
        "session.start_s": {"value": start_s, "unit": "s"}}
    for layer in _LAYERS:
        m[f"{layer}.self_s"] = {"value": med(f"{layer}.self_s"), "unit": "s"}
    for key in _LAYER_COUNTS:
        m[key] = {"value": med(key), "unit": "count"}
    reps, cand = med("exact.reps_out"), med("lsh.candidates")
    m["exact.reps_ratio"] = {"value": reps / valid_rows if valid_rows
                             else 0.0, "unit": "ratio"}
    m["verify.accept_ratio"] = {
        "value": med("verify.accepted") / cand if cand else 0.0,
        "unit": "ratio"}
    m["pipeline.generators_s"] = {"value": med("pipeline.generators_s"),
                                  "unit": "s"}
    for key, unit in (("writes", "count"), ("write_s", "s"),
                      ("bytes_written", "B")):
        m[f"tableio.{key}"] = {
            "value": _median([o.tableio.get(key, 0) for o in base]),
            "unit": unit}
    for key in ("jobs", "stages", "tasks"):
        m[f"spark.{key}"] = {
            "value": _median([o.spark.get(key, 0) for o in base]),
            "unit": "count"}
    m["quality.false_merge_ratio"] = {
        "value": _median([o.check["false_merge_ratio"]
                          for o in ops if o.check]), "unit": "ratio"}
    untraced = _median([o.wall_s for o in base])
    overhead = _median([o.wall_s for o in traced]) - untraced
    m["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    m["trace.overhead_ratio"] = {
        "value": overhead / untraced if untraced else 0.0, "unit": "ratio"}
    return m


# -- driver ------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    for need in ("email_sanitizer_api_spark/pipeline.py",
                 "tools/recall_report.py", "tools/host_probe.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the dedup engine", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)

    from checks import Oracle, load_tool
    from email_sanitizer_api_spark.config import DedupConfig
    from email_sanitizer_api_spark.corpus import (
        CorpusSpec, synthesize_code_files)

    phases = {}
    host = {"busyloop_mops": load_tool(ROOT, "host_probe").probe(
                [1, _cpus()], 0.25)["aggregate_mops"],
            "loadavg_start": os.getloadavg()}

    t = time.perf_counter()
    pdf = synthesize_code_files(CorpusSpec(**wl.spec, seed=args.seed))
    input_dir = os.path.join(work, "input")
    write_corpus(pdf, input_dir)
    n_files = len(pdf)
    phases["corpus_s"] = time.perf_counter() - t

    cfg = DedupConfig()
    spark = tracer = None
    ops: list[Op] = []
    try:
        t_setup = time.perf_counter()
        spark = start_session(work)
        start_s = time.perf_counter() - t_setup
        counter = SparkCounter(spark)
        warm = Op(index=-1, traced=False)
        run_op(spark, wl, input_dir, work, warm, None, counter)
        if warm.error:
            raise RuntimeError(f"warm-up failed: {warm.error}")
        setup_s = time.perf_counter() - t_setup

        t = time.perf_counter()
        oracle = Oracle(spark, spark.read.parquet(input_dir), pdf, cfg, ROOT)
        phases["oracle_s"] = time.perf_counter() - t
        if args.trace:
            from spans import Tracer
            tracer = Tracer()

        with RssSampler() as rss:
            t_loop = time.perf_counter()
            while True:
                op = Op(index=len(ops), traced=bool(tracer) and bool(ops))
                run_op(spark, wl, input_dir, work, op, oracle, counter,
                       tracer)
                ops.append(op)
                if op.failed:
                    print(f"perfbench: op {op.index} failed: "
                          f"{op.error or op.check['failures']}",
                          file=sys.stderr)
                # start another operation only if one more (as long as the
                # last) still fits in --seconds and in the deadline
                now = time.perf_counter()
                enough = len(ops) >= (2 if tracer else 1)
                if enough and (now - t_loop + op.wall_s > args.seconds
                               or now - t_start + op.wall_s > _DEADLINE_S):
                    break
        phases["loop_s"] = time.perf_counter() - t_loop
        host["loadavg_end"] = os.getloadavg()
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t

    failed = sum(o.failed for o in ops)
    if tracer:
        metrics = per_layer(ops, tracer.spans, start_s, oracle.valid_rows)
    else:
        metrics = end_to_end(ops, n_files, setup_s, rss.peak)

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cpus": _cpus(),
        "input_files": n_files, "valid_rows": oracle.valid_rows,
        "input_bytes": int(pdf["content"].str.len().sum()),
        "setup_s": setup_s, "session_start_s": start_s,
        "warmup_s": warm.wall_s, "phases": phases, "host": host,
        "total_s": time.perf_counter() - t_start,
        "ops": [o.__dict__ for o in ops], "metrics": metrics,
        "spans": tracer.spans if tracer else [],
    }
    out = os.path.join(HERE, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}"
                       ".json")
    with open(out, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
