"""Benchmark of the extract -> resolve -> build engine.

    python3 perfbench/run.py --workload small_build --seed 7 --seconds 1 --trace 0

Run it from the root of a checkout.  Each run builds a graph from
transcript turns (``sources.transcripts.transcripts_df`` with the given
seed) with ``run_pipeline``, as the first build of a fresh session:

* ``small_build`` -- ~4,000 turns (~250 conversations), in memory: the
  build is almost all the fixed per-build job floor and its
  ``localCheckpoint`` pins;
* ``large_job`` -- ~12,000 turns (~700 conversations) through ``job.py``'s
  path: stage tables and lineage written to an output directory in place of
  the pins, three times the data for the extract, resolve and materialize
  kernels.

Workloads, metrics and checks are described in METRICS.md.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
set-up with Spark's event log on, then the workload's ``run_pipeline``
build, the layer-by-layer build (``layers.py``), a catalog write and
read-back of its tables, and one ``IncrementalKG`` micro-batch of the same
conversations, and prints the per-layer metrics.  Every operation's output
is checked (``checks.py``); a failed check or a raised error counts as a
failed operation.  The last stdout line is the result; the line before it
is the run record (checksums, host load and calibration, operation walls).
"""
from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, ROOT]

# workload -> (input size in transcript turns, build through job.py's path:
# stage tables written to an output directory instead of pinned in memory).
# Conversations are added in generator order until the turn count is
# reached, so every seed gives about the same amount of work (conversation
# lengths are skewed: a fixed conversation count moves the turn count by 14%
# between seeds at 500 conversations).
WORKLOADS = {"small_build": (4_000, False), "large_job": (12_000, True)}
# Driver JVM heap, through the engine's own knob (the engine default, 16g,
# is more than a 15 GiB host without swap can give).
DRIVER_MEM = "4g"
# RandomState seeds must stay below 2**32: seed * 1_000_003 + conversation.
_SEED_MOD = 4093


def conversations_for(turns: int, seed: int) -> tuple[int, int]:
    """(conversations, their turns) with the turn total closest to
    ``turns``."""
    from itertools import groupby

    from knowledgegraphsiqidis_spark.sources.transcripts import (
        iter_transcript_rows)
    n = seen = 0
    rows = iter_transcript_rows(10 * turns, seed)
    for _, conv in groupby(rows, key=lambda row: row[0]):
        size = sum(1 for _ in conv)
        if seen + size - turns > turns - seen:
            break
        n, seen = n + 1, seen + size
    return n, seen


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class PeakRSS:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        parent, rss = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{pid}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
            rss[int(pid)] = pages * self._page
        me, total = os.getpid(), 0
        for pid in rss:
            p = pid
            while p and p != me:
                p = parent.get(p, 0)
            if p == me:
                total += rss[pid]
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _host(tag: str, record: dict) -> None:
    import bench  # the engine bench's host-speed probe, unmodified
    record[f"host.calib_s_{tag}"] = round(bench.host_calibration(reps=1), 4)
    record[f"host.loadavg1_{tag}"] = os.getloadavg()[0]


def _graph_rows(nodes, edges, triples):
    return ([r[0] for r in nodes.select("id").collect()],
            [tuple(r) for r in edges.select("src", "dst").collect()],
            [tuple(r) for r in triples.collect()])


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed % _SEED_MOD
        turns, self.job = WORKLOADS[args.workload]
        self.n_conv, self.n_turns = conversations_for(turns, self.seed)
        self.dir = run_dir
        self.record: dict = {"workload": self.workload, "seed": args.seed,
                             "n_conversations": self.n_conv,
                             "n_turns": self.n_turns,
                             "driver_mem": DRIVER_MEM}
        self.expected: str | None = None  # triple checksum of the first op
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]

    def op_failed(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(f"{what}: {traceback.format_exc(limit=3)}")

    def stop_spark(self) -> None:
        """Stops the session and the driver JVM, and waits for the JVM."""
        from pyspark import SparkContext

        spark, self.spark = getattr(self, "spark", None), None
        if spark is None:
            return
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on end of input
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # -- set-up ------------------------------------------------------------
    def setup(self):
        from knowledgegraphsiqidis_spark.session import get_spark
        from knowledgegraphsiqidis_spark.sources.transcripts import (
            transcripts_df)
        from spans import event_log_conf

        t0 = time.perf_counter()
        extra = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            os.makedirs(os.path.join(self.dir, "eventlog"))
            extra.update(event_log_conf(os.path.join(self.dir, "eventlog")))
        self.cores = len(os.sched_getaffinity(0))  # as nproc counts them
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.transcripts = transcripts_df(
            self.spark, self.n_conv, seed=self.seed).localCheckpoint()
        self.record["setup_s"] = time.perf_counter() - t0

    # -- the timed operations ----------------------------------------------
    def _checked(self, what: str, wall: float, graph: tuple) -> float:
        """Checks one operation's graph against the first graph of the run,
        records it, and returns its wall.  The first operation is its own
        reference: a run with a single operation (a --trace 0 run whose
        build outlasts --seconds) gets the structural checks only."""
        from checks import graph_problems, triple_checksum

        checksum = triple_checksum(graph[2])
        self.expected = self.expected or checksum
        self.check(what, graph_problems(*graph, self.expected))
        self.record.setdefault("checksums", []).append(checksum)
        self.record.setdefault("op_walls_s", {})[what] = round(wall, 3)
        return wall

    def build(self, what: str) -> float:
        """One ``run_pipeline``, timed until the triple count.  On a job
        workload it runs as ``job.py`` does: into a fresh output directory,
        then every table counted."""
        from knowledgegraphsiqidis_spark.plans.pipeline import run_pipeline

        t0 = time.perf_counter()
        if self.job:
            r = run_pipeline(self.spark, self.transcripts,
                             out_dir=os.path.join(self.dir, "job", what))
            for df in r.tables.values():
                df.count()
        else:
            r = run_pipeline(self.spark, self.transcripts,
                             n_turns=self.n_turns)
        r.triples().count()
        wall = time.perf_counter() - t0
        return self._checked(what, wall,
                             _graph_rows(r.nodes, r.edges, r.triples()))

    def timed_ops(self) -> list[float]:
        """Operations back to back until ``--seconds`` have passed (at least
        one); a failed operation ends the loop."""
        walls = []
        t_end = time.perf_counter() + self.args.seconds
        while not walls or time.perf_counter() < t_end:
            try:
                walls.append(self.build(f"build{len(walls)}"))
            except Exception:
                self.op_failed(f"build{len(walls)}")
                return walls
        return walls

    # -- trace 0 -------------------------------------------------------------
    def end_to_end(self) -> dict:
        with PeakRSS() as rss:
            self.setup()
            walls = self.timed_ops()
        # a diagnostic, not a metric: it moves by more than a tenth between
        # runs of the same code
        self.record["peak_rss_mb"] = rss.peak / 2**20
        m = {"setup_s": (self.record["setup_s"], "s")}
        if walls:
            build_s = statistics.median(walls)
            m["build_s"] = (build_s, "s")
            m["turns_per_s"] = (self.n_turns * len(walls) / sum(walls),
                                "turns/s")
        return m

    # -- trace 1 -------------------------------------------------------------
    def traced(self) -> dict:
        from knowledgegraphsiqidis_spark.catalog import ParquetCatalog
        from knowledgegraphsiqidis_spark.operators.materialize import (
            triples_view)
        from knowledgegraphsiqidis_spark.streaming.incremental import (
            IncrementalKG)
        from layers import traced_build
        from spans import Spans, job_group_metrics

        self.setup()
        spans = Spans(self.spark)
        # the program's own build, first and cold as in --trace 0: its
        # checksum is the one every later operation must match, and the
        # pipeline.* job counters are its own
        with spans.span("pipeline"):
            self.build("build")
        tables, counts, wall = traced_build(self.spark, spans,
                                            self.transcripts, self.n_turns)
        self._checked("traced build", wall, _graph_rows(
            tables["nodes"], tables["edges"],
            triples_view(tables["edges"], tables["nodes"])))

        cat = ParquetCatalog(os.path.join(self.dir, "catalog"))
        with spans.span("catalog.write"):
            for name, df in tables.items():
                cat.write(df, name)
        with spans.span("catalog.resume"):
            nodes, edges = (cat.read(self.spark, "nodes"),
                            cat.read(self.spark, "edges"))
            triples_view(edges, nodes).count()
        self._checked("catalog read-back", spans.walls["catalog.resume"],
                      _graph_rows(nodes, edges, triples_view(edges, nodes)))

        # one micro-batch of all the conversations: a second one pays the
        # ~150-job batch floor again (~26 s, a traced run then takes 140-150 s)
        kg = IncrementalKG(self.spark, os.path.join(self.dir, "stream"))
        with spans.span("incremental.batch0"):
            kg.process_batch(self.transcripts)
        self._checked("stream", spans.walls["incremental.batch0"],
                      _graph_rows(kg.nodes(), kg.edges(), kg.triples()))
        batch_metrics = kg.batch_metrics()
        spans.cpu.close()
        state_bytes = _du(os.path.join(self.dir, "stream"))
        catalog_bytes = _du(os.path.join(self.dir, "catalog"))

        self.stop_spark()
        groups = job_group_metrics(os.path.join(self.dir, "eventlog"))
        return _layer_metrics(spans, groups, counts, wall, self.cores,
                              self.n_conv, batch_metrics, state_bytes,
                              catalog_bytes)


def _layer_metrics(spans, groups, counts, wall, cores, n_conv, batch_metrics,
                   state_bytes, catalog_bytes) -> dict:
    """The per-layer metrics of a traced run, as name -> (value, unit)."""
    from layers import SPANS as span_layer
    from spans import sum_groups

    walls, python_cpu = spans.walls, spans.python_cpu
    m: dict = {}
    generic = (("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
               ("spill_bytes", "bytes"), ("executor_cpu_s", "s"),
               ("gc_s", "s"))
    layer_spans = {
        "extract": ["extract"], "infer": ["infer"],
        "resolve": [s for s, l in span_layer.items() if l == "resolve"],
        "materialize": [s for s, l in span_layer.items()
                        if l == "materialize"],
        "catalog": ["catalog.write", "catalog.resume"],
        "incremental": ["incremental.batch0"],
    }
    build = sum_groups(groups, ["pipeline"])
    m["pipeline.build_s"] = (walls["pipeline"], "s")
    m["pipeline.traced_wall_s"] = (wall, "s")
    m["pipeline.jobs"] = (build["jobs"], "count")
    m["pipeline.stages"] = (build["stages"], "count")
    m["pipeline.tasks"] = (build["tasks"], "count")
    m["pipeline.core_busy_frac"] = (
        build["run_s"] / (walls["pipeline"] * cores), "ratio")
    m["pipeline.unattributed_s"] = (
        wall - sum(walls[s] for s in span_layer), "s")
    m["pipeline.python_cpu_s"] = (python_cpu["pipeline"], "s")
    for key, unit in generic:
        m[f"pipeline.{key}"] = (build[key], unit)
    for layer, names in layer_spans.items():
        c = sum_groups(groups, names)
        m[f"{layer}.wall_s"] = (sum(walls[s] for s in names), "s")
        m[f"{layer}.jobs"] = (c["jobs"], "count")
        m[f"{layer}.python_cpu_s"] = (sum(python_cpu[s] for s in names), "s")
        for key, unit in generic:
            m[f"{layer}.{key}"] = (c[key], unit)
    m["extract.cpu_s"] = (m["extract.executor_cpu_s"][0]
                          + m["extract.python_cpu_s"][0], "s")
    m["extract.ms_per_conv"] = (1e3 * walls["extract"] / n_conv, "ms")
    m["extract.rows_out"] = (counts["extract"], "rows")
    m["infer.rows_out"] = (counts["infer"], "rows")
    m["resolve.forms"] = (counts["forms"], "count")
    m["resolve.candidate_pairs"] = (counts["candidate_pairs"], "count")
    m["resolve.matches"] = (counts["matches"], "count")
    m["resolve.match_ratio"] = (
        counts["matches"] / max(counts["candidate_pairs"], 1), "ratio")
    for step in ("candidate_pairs", "match_edges", "forest_components"):
        m[f"resolve.{step}_s"] = (walls[f"resolve.{step}"], "s")
    rows = {"canonical_map": counts["nodes"], "edges": counts["edges"],
            "side_tables": counts["aliases"] + counts["mentions"]}
    for step, n in rows.items():
        name = f"materialize.{step}"
        m[f"{name}_s"] = (walls[name], "s")
        m[f"{name}_jobs"] = (groups.get(name, {}).get("jobs", 0), "count")
        m[f"{name}_rows"] = (n, "rows")
    m["catalog.write_s"] = (walls["catalog.write"], "s")
    m["catalog.resume_s"] = (walls["catalog.resume"], "s")
    m["catalog.bytes_written"] = (catalog_bytes, "bytes")
    # the stream is one micro-batch: its wall and jobs are the layer's
    m["incremental.batch_s"] = m.pop("incremental.wall_s")
    m["incremental.batch_jobs"] = m.pop("incremental.jobs")
    m["incremental.state_bytes"] = (state_bytes, "bytes")
    for key in ("n_scored_pairs", "n_keyed_rows", "wall_sec"):
        m[f"incremental.{key}"] = (sum(b[key] for b in batch_metrics),
                                   "s" if key == "wall_sec" else "count")
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "knowledgegraphsiqidis_spark",
                                       "__init__.py")):
        print(f"no knowledgegraphsiqidis_spark package under {ROOT}; run "
              "from the root of a checkout", file=sys.stderr)
        return 2

    from checks import self_test
    self_test()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    # Python workers import the package from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    run = Run(args, run_dir)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _host("pre", run.record)
        metrics = run.traced() if args.trace else run.end_to_end()
        _host("post", run.record)
    finally:
        run.stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))
    run.record["problems"] = run.problems
    print(json.dumps({"run_record": run.record}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
