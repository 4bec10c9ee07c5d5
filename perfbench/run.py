#!/usr/bin/env python3
"""Seeded end-to-end benchmark of tscan_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The benchmark generates the workload's input from
the seed, starts a fresh ``local[nproc]`` session with
``tscan_spark.session.get_spark``, and drives the workload's queries from one
thread, one query at a time (a closed loop with one client). A pass builds each
query through ``registry.QUERIES`` and writes every column to Spark's ``noop``
sink; the passes after the first are timed until ``--seconds`` have passed and
the workload's ``timed_passes`` have run, and ``pass_s`` is their median. The
first pass in the fresh session, ``cold_pass_s``, instead collects every output
to the driver; the outputs are checked against ``registry.ORACLES`` in DuckDB
after the session has stopped. (Measured on warm passes of both workloads, a
collecting pass and a noop pass take the same time within their noise: the
outputs are at most a few hundred rows.)

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it carries the input's
properties and the distributions behind the medians.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, "out")
NPROC = len(os.sched_getaffinity(0))

# least share of a traced query's wall time its phases must account for
MIN_COVERAGE = 0.95


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    docs: int
    near_dup_share: float = 0.0
    # the seed permutes and relabels one document set (see gen.py)
    fixed_set: bool = False
    # warm passes timed at least, whatever --seconds says: a profile pass
    # takes ~20 s, a dedup pass ~8 s and its first warm pass spreads most
    timed_passes: int = 1


WORKLOADS = {
    "profile_staged": Workload(("tscan_doc_profile_staged",), docs=200, fixed_set=True),
    "dedup_bulk": Workload(
        ("dedup_ngram_jaccard", "dedup_containment", "dedup_recall_eval"),
        docs=2000,
        near_dup_share=0.1,
        timed_passes=2,
    ),
}

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "docs_per_s": "1/s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.build_s": "s",
    "registry.self_s": "s",
    "registry.py4j_calls": "count",
    "corpus.build_s": "s",
    "annotate.build_s": "s",
    "lexicons.build_s": "s",
    "pipeline.build_s": "s",
    "vocab_dim.build_s": "s",
    "operators.parse.build_s": "s",
    "operators.ner.build_s": "s",
    "operators.sequential.build_s": "s",
    "operators.dedup.build_s": "s",
    "registry.build_jobs": "count",
    "registry.eager_job_s": "s",
    "catalyst.plan_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.exchanges": "count",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.codegen_compiles": "count",
    "exec.codegen_compile_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.core_busy_share": "ratio",
    "aggregate.build_s": "s",
    "aggregate.peak_mb": "MB",
    "kernel.python_run_s": "s",
    "kernel.python_sent_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "trace.phase_coverage": "ratio",
}


def process_age() -> float:
    """Seconds since this process started, from the kernel's start time."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a 4g driver heap, not the library's 8g default, keeps the footprint small
    os.environ["TSCAN_SPARK_DRIVER_MEM"] = "4g"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(tracer=None):
    """Import the registry and start the session: the set-up a user pays.

    With a tracer, the ``get_spark`` call is a ``session`` span.
    """
    from tscan_spark import registry
    from tscan_spark.session import get_spark

    with tracer.span("session") if tracer else contextlib.nullcontext():
        spark = get_spark(app_name="perfbench", master=f"local[{NPROC}]")
    spark.sparkContext.setLogLevel("ERROR")
    return registry, spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_pss_mb(pid: int) -> float:
    """Proportional set size of ``pid`` and its descendants.

    Forked Python workers share most of their pages; PSS charges each shared
    page once in total, where summing RSS would count it in every process.
    """
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError, IndexError):
            continue
    return total_kb / 1024


class RssSampler(threading.Thread):
    """Peak resident memory (PSS) of this process and all its descendants."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_pss_mb(os.getpid()))
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for all of them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = gateway.proc.pid
    tree = descendants(jvm_pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Bench:
    def __init__(self, registry, spark, sf_dir: str, workload: Workload):
        self.registry, self.spark, self.sf_dir, self.workload = registry, spark, sf_dir, workload
        self.attempted = 0
        self.failed = 0
        self.pass_no = 0

    def _build(self, name: str):
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(f"perfbench:{name}", f"pass {self.pass_no}")
        return self.registry.QUERIES[name](self.spark, self.sf_dir)

    def _fail(self) -> None:
        self.failed += 1
        traceback.print_exc()

    def run_pass(self, collect_dir: str | None = None) -> float | None:
        """Build and run every query once; wall seconds, or None on failure.

        A pass writes every column to the ``noop`` sink. With ``collect_dir``
        it instead brings every row to the driver and pickles the frame there,
        outside the timed region, so no frame stays in memory.
        """
        self.pass_no += 1
        # start every pass from a collected heap, outside the timed region
        self.spark.sparkContext._jvm.System.gc()
        wall, ok = 0.0, True
        for name in self.workload.queries:
            t0 = time.perf_counter()
            try:
                df = self._build(name)
                if collect_dir is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    frame = df.toPandas()
            except Exception:
                self._fail()
                ok = False
                continue
            wall += time.perf_counter() - t0
            if collect_dir is not None:
                frame.to_pickle(os.path.join(collect_dir, f"{name}.pkl"))
                del frame
        return wall if ok else None


class TracedBench(Bench):
    """A Bench whose passes record spans and read Spark's counters per phase."""

    def __init__(self, *args, tracer, cores: int):
        import readers as R

        super().__init__(*args)
        self.tracer, self.cores = tracer, cores
        self.listener = R.WriteListener(self.spark)

    def run_traced_pass(self) -> dict | None:
        import readers as R
        from tracing import self_times, wrap_layers

        tr, spark = self.tracer, self.spark
        self.pass_no += 1
        tr.pass_id = self.pass_no
        spark.sparkContext._jvm.System.gc()
        counter = R.Py4JCounter(spark)
        unwrap = wrap_layers(tr)
        queries = []
        t0 = time.perf_counter()
        try:
            for name in self.workload.queries:
                queries.append(self._traced_query(name, counter))
        except Exception:
            self._fail()
            return None
        finally:
            unwrap()
            counter.remove()
            tr.pass_id = None
        wall = time.perf_counter() - t0

        spans = [s for s in tr.spans if s.pass_id == self.pass_no]
        own = self_times(spans)
        m = {k: 0.0 for k in PER_LAYER}
        coverage = []
        for s in spans:
            if s.name == "registry":
                m["registry.build_s"] += s.end - s.start
                m["registry.self_s"] += own[s.id]
            elif f"{s.name}.build_s" in m:
                m[f"{s.name}.build_s"] += own[s.id]
        for q in queries:
            eager = R.stage_totals(spark, q["marks"][0], q["marks"][1])
            run = R.stage_totals(spark, q["marks"][1], q["marks"][2])
            nodes = R.node_totals(spark, q["marks"][1], q["marks"][2])
            plan_s = sum(q["phases"].values())
            m["registry.py4j_calls"] += q["py4j"]
            m["registry.build_jobs"] += eager.jobs
            m["registry.eager_job_s"] += eager.job_wall_s
            for phase, sec in q["phases"].items():
                m[f"catalyst.{phase}_s"] += sec
            m["catalyst.plan_s"] += plan_s
            m["catalyst.exchanges"] += nodes.exchanges
            m["exec.wall_s"] += q["write_s"] - plan_s
            m["exec.jobs"] += run.jobs
            m["exec.stages"] += run.stages
            m["exec.tasks"] += run.tasks
            m["exec.codegen_compiles"] += q["codegen"][0]
            m["exec.codegen_compile_s"] += q["codegen"][1]
            m["exec.executor_run_s"] += run.executor_run_s
            m["exec.executor_cpu_s"] += run.executor_cpu_s
            m["aggregate.build_s"] += nodes.aggregate_build_s
            m["aggregate.peak_mb"] = max(m["aggregate.peak_mb"], nodes.aggregate_peak_mb)
            m["kernel.python_run_s"] += nodes.python_run_s
            m["kernel.python_sent_mb"] += nodes.python_sent_mb
            m["exec.shuffle_write_mb"] += run.shuffle_write_mb + eager.shuffle_write_mb
            m["exec.shuffle_read_mb"] += run.shuffle_read_mb + eager.shuffle_read_mb
            m["exec.spill_mb"] += run.spill_mb + eager.spill_mb
            m["exec.gc_s"] += run.gc_s + eager.gc_s
            # build + plan + exec (the write is plan + exec) against the query's
            # wall time: what the query span holds outside them is unaccounted
            coverage.append((q["build_s"] + q["write_s"]) / q["wall_s"])
            if coverage[-1] < MIN_COVERAGE:
                self.failed += 1
                log(f"{q['name']}: phases cover {coverage[-1]:.3f} of the query's wall time")
        m["exec.core_busy_share"] = m["exec.executor_run_s"] / m["exec.wall_s"] / self.cores
        m["trace.pass_s"] = wall
        m["trace.phase_coverage"] = min(coverage)
        return m

    def _traced_query(self, name: str, counter) -> dict:
        """One query inside spans; marks the job and SQL ids between build and write.

        The counters behind the marks are read after the pass. The Catalyst
        phases are those of the write's own QueryExecution.
        """
        import readers as R

        tr, spark = self.tracer, self.spark
        R.wait_for_listeners(spark)
        m0, cg0 = R.marks(spark), R.codegen(spark)
        with tr.span(f"query:{name}") as qid:
            calls = counter.calls
            with tr.span("registry") as bid:
                tr.root = bid
                try:
                    df = self._build(name)
                finally:
                    tr.root = None
            calls = counter.calls - calls
            R.wait_for_listeners(spark)
            m1 = R.marks(spark)
            seen = len(self.listener.phases)
            with tr.span("write"):
                df.write.format("noop").mode("overwrite").save()
        R.wait_for_listeners(spark)
        m2, cg1 = R.marks(spark), R.codegen(spark)
        query = next(s for s in reversed(tr.spans) if s.id == qid)
        build = next(s for s in reversed(tr.spans) if s.name == "registry" and s.parent == qid)
        write = next(s for s in reversed(tr.spans) if s.name == "write" and s.parent == qid)
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for got in self.listener.phases[seen:]:
            for k, v in got.items():
                phases[k] += v
        return {
            "name": name,
            "py4j": calls,
            "marks": (m0, m1, m2),
            "codegen": (cg1[0] - cg0[0], cg1[1] - cg0[1]),
            "phases": phases,
            "build_s": build.end - build.start,
            "write_s": write.end - write.start,
            "wall_s": query.end - query.start,
        }


def file_digest(*paths: str) -> str:
    h = hashlib.sha1()
    for path in paths:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_frame(sql: str, sf_dir: str, key: str, work: str):
    """The oracle's result in DuckDB over ``sf_dir``, cached under ``key``."""
    import duckdb
    import pandas as pd

    path = os.path.join(CACHE, f"oracle-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect(config={"threads": NPROC, "memory_limit": "2GB", "temp_directory": work})
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf_dir, 'documents.parquet', '*.parquet')}')"
    )
    frame = con.sql(sql).df()
    con.close()
    os.makedirs(CACHE, exist_ok=True)
    frame.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return frame


def expected(registry, name: str, wl: Workload, sf_dir: str, work: str):
    """The oracle's answer for ``name`` on this run's input.

    A fixed-set workload's answer is computed once, over the set with each
    document's pool row as its ``doc_id``, and cached.
    """
    from gen import POOL, canonical, fixed_rows

    sql = registry.ORACLES[name]
    if not wl.fixed_set:
        parts = os.path.join(sf_dir, "documents.parquet")
        digest = file_digest(*(os.path.join(parts, p) for p in sorted(os.listdir(parts))))
        return oracle_frame(sql, sf_dir, hashlib.sha1((digest + sql).encode()).hexdigest(), work)
    rows = sorted(fixed_rows(wl.docs).tolist())
    key = hashlib.sha1(f"{file_digest(POOL)}{rows}{sql}".encode()).hexdigest()
    canon = os.path.join(work, f"canonical-{key}")
    if not os.path.exists(os.path.join(CACHE, f"oracle-{key}.pkl")):
        canonical(canon, rows)
    return oracle_frame(sql, canon, key, work)


def check_outputs(registry, wl: Workload, collected: dict[str, str], id_map: dict, sf_dir: str, work: str) -> int:
    """Compare the collected outputs to the DuckDB oracles; return the mismatches."""
    import pandas as pd

    from tools.check_query import compare

    bad = 0
    for name, path in collected.items():
        try:
            got = pd.read_pickle(path)
            if wl.fixed_set:
                got["doc_id"] = got["doc_id"].map(id_map)
            verdict = compare(got, expected(registry, name, wl, sf_dir, work))
        except Exception:
            verdict = "ERR " + traceback.format_exc(limit=2).splitlines()[-1]
        if verdict != "OK":
            bad += 1
            log(f"{name}: {verdict}")
    return bad


def prepare_caches(registry, work: str) -> None:
    """Compute the cached oracle answers of every fixed-set workload.

    The first run in a checkout pays for them, whichever workload it runs.
    """
    for wl in WORKLOADS.values():
        if wl.fixed_set:
            for name in wl.queries:
                expected(registry, name, wl, "", work)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4, method="inclusive")


def run(args) -> dict:
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    tracer = None
    if traced:
        from tracing import Tracer

        tracer = Tracer()
    registry, spark = start_session(tracer)
    setup_s = process_age()

    from gen import generate

    sf_dir = os.path.join(args.work, "sf")
    t0 = time.perf_counter()
    props, id_map = generate(sf_dir, args.seed, wl.docs, wl.near_dup_share, files=NPROC, fixed_set=wl.fixed_set)
    props["generate_s"] = time.perf_counter() - t0
    props["scan_splits"] = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).rdd.getNumPartitions()

    if traced:
        bench = TracedBench(registry, spark, sf_dir, wl, tracer=tracer, cores=NPROC)
    else:
        bench = Bench(registry, spark, sf_dir, wl)
    outputs = os.path.join(args.work, "outputs")
    os.makedirs(outputs)
    rss = RssSampler()
    rss.start()
    warm, traced_passes = [], []
    try:
        # the cold pass also collects every output for the oracle check
        cold = bench.run_pass(collect_dir=outputs)
        log(f"cold pass {cold} s")
        t0 = time.perf_counter()
        # a traced run alternates traced and untraced passes (T U T U ...),
        # one pair unless --seconds asks for more; the overhead compares each
        # traced pass with the untraced one after it
        need = 1 if traced else wl.timed_passes
        while (
            len(warm) < need
            or len(warm) < len(traced_passes)
            or time.perf_counter() - t0 < args.seconds
        ):
            if traced and len(traced_passes) == len(warm):
                layer = bench.run_traced_pass()
                if layer is None:
                    break
                traced_passes.append(layer)
                continue
            wall = bench.run_pass()
            if wall is None:
                break
            warm.append(wall)
    finally:
        peak_rss = rss.stop()
        stop_session(spark)
    log(f"warm passes {warm}, peak rss {peak_rss:.0f} MB")
    t1 = time.perf_counter()
    paths = {name: os.path.join(outputs, f"{name}.pkl") for name in wl.queries}
    # a query that raised in the cold pass has already counted as failed
    paths = {name: path for name, path in paths.items() if os.path.exists(path)}
    bench.failed += check_outputs(registry, wl, paths, id_map, sf_dir, args.work)
    log(f"oracle check {time.perf_counter() - t1:.1f} s")
    prepare_caches(registry, args.work)
    if cold is None or not warm or (traced and not traced_passes):
        raise RuntimeError("a pass failed")

    pass_s = statistics.median(warm)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "input": props,
        "queries": list(wl.queries),
        "cores": NPROC,
        "sink": "noop, every column written",
        "load": "closed loop, one client",
        "cold_pass_s": cold,
        "warm_passes_s": warm,
        "pass_s_quartiles": quartiles(warm),
        "failed_share": {"value": bench.failed / bench.attempted, "unit": "ratio"},
        # not an end-to-end metric: the JVM heap's growth makes it too noisy to bound
        "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
    }
    if traced:
        metrics = {k: statistics.median(p[k] for p in traced_passes) for k in PER_LAYER}
        metrics["session.get_spark_s"] = next((s.end - s.start) for s in tracer.spans if s.name == "session")
        metrics["trace.overhead_s"] = statistics.median(
            p["trace.pass_s"] - warm[i] for i, p in enumerate(traced_passes)
        )
        info["traced_passes"] = len(traced_passes)
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(tracer.to_dicts(), f)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": cold,
            "pass_s": pass_s,
            "docs_per_s": wl.docs / pass_s,
        }
        units = END_TO_END
    print(json.dumps({"info": info}))
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(HERE, ".work", f"{os.getpid()}")
    prepare_env(work)
    sys.path.insert(0, HERE)
    try:
        if args.workload is None:
            ap.error("--workload is required")
        args.work = work
        result = run(args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
