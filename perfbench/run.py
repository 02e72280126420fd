"""End-to-end and per-layer benchmark of the KG-construction package.

    python3 perfbench/run.py --workload kg_build_dedup --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One run is one driver process on
``local[<nproc>]`` with one client (closed loop):

1. start the Spark session once (JVM launch + Python-worker warm-up);
2. generate the workload's inputs from ``--seed`` (perfbench/gen.py);
3. run the workload's create job (job1) once and one round of its
   follow-up ops (job2), repeated until ``--seconds`` have passed
   since the round started; the KG workload runs job2 first, so its
   build runs on a warm JVM;
4. check every output outside the timed regions; an op that raises or
   fails its check counts as failed;
5. print a human-readable table, then one JSON line with the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``; spans are also written to
   ``.bench_out/trace-<workload>-<seed>.json``).

Workloads (see BENCHMARK.json and perfbench/README.md):

- ``kg_build_dedup``: job2 = minhash ``dedup_assignments`` of a
  planted-duplicate corpus plus its output, the process's first (cold)
  Spark work; then job1 = ``build_graph`` of a synthesized corpus into
  an empty catalog. Traced runs add two resume reruns of
  ``build_graph`` over the completed catalog.
- ``graph_load_update``: job1 = ``bulk_insert`` of ``|``-separated
  node and relation CSVs plus the three catalog writes and count
  collects, in ``insert_main``'s order; job2 = two node-MERGE update
  ops (the second is timed). Traced runs add an edge-CREATE update op
  to each round. Each update op commits, then reads back its counts,
  as ``update_main`` does.

Everything the run writes lives under ``.bench_work/`` (removed at
exit) and ``.bench_out/`` (trace artifacts and the output-hash record
that lets runs of the same code and seed compare their outputs).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
CORES = len(os.sched_getaffinity(0))
PACKAGE = os.path.join(ROOT, "redisgraph_bulk_loader_spark")

# Input sizes. The jobs are bound by per-job overhead at this scale
# (the cold first build_graph takes as long at 2k docs as at 10k), so
# the sizes and the ops per run are set by the benchmark's run-time
# budget (4 + 22 x workloads runs in 3420 s), not by the data: every
# run pays ~16 s of session start, each job's first call in a process
# pays its JIT and codegen warm-up, and the LSH leftovers pass alone
# takes 15-20 s of the build. The resume and edge-CREATE ops do not
# fit that budget in every run, so only traced runs make them.
SIZES = {
    "kg_build_dedup": {"kg_docs": 10_000, "dedup_docs": 5_000,
                       "traced_resumes": 2},
    "graph_load_update": {"nodes": 5_000, "edges": 10_000,
                          "update_rows": 1_000, "existing_share": 0.7,
                          "node_ops_per_round": 2},
}
# op kinds behind job1 and job2
JOBS = {"kg_build_dedup": ("build", "dedup"),
        "graph_load_update": ("load", "node_update")}
E2E = ["setup_s", "peak_rss_mb", "job1_items_per_s", "job2_s"]
UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "job1_items_per_s": "items/s",
         "job2_s": "s"}
# floors on the share of planted items the approximate (minhash) paths
# must recover: near pairs merged by dedup (the seed code merges about
# 0.88) and triples reached only through LSH linking (about 0.98)
NEAR_PAIR_RECALL = 0.8
LSH_LINK_RECALL = 0.8
WRITE_TABLES = ["mentions", "nodes", "edges", "triples", "node_registry",
                "pred_counts", "update_nodes", "update_edges"]
OP_KINDS = ["build", "resume", "dedup", "load", "node_update", "edge_update"]


def _pin_environment() -> None:
    """Everything the JVM, the Python workers and tempfile touch stays
    inside the checkout; workers can import the package."""
    for d in (WORK, OUT):
        os.makedirs(d, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM of spark-submit: no /tmp/hsperfdata_<user> file
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _warm(batches):
    """Python-worker warm-up: import the package in every worker."""
    import pandas as pd

    import redisgraph_bulk_loader_spark  # noqa: F401

    for pdf in batches:
        yield pd.DataFrame({"n": [len(pdf)]})


def start_session():
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        # a fixed heap (-Xms = -Xmx): with G1 free to grow it, peak RSS
        # moved by up to 28% between runs of the same inputs
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms1g -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}")
        .config("spark.local.dir", os.path.join(WORK, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, CORES * 4000, numPartitions=CORES).mapInPandas(
        _warm, "n long").count()
    return spark, time.perf_counter() - t0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class PeakRss:
    """Peak resident memory of this driver process plus its JVM while
    the timed ops run. Each op's window starts by resetting both
    processes' ``VmHWM`` to their current RSS, so input generation and
    the output checks (which hold whole outputs in the driver) stay
    out of the figure."""

    def __init__(self, spark):
        self.pids = (os.getpid(), spark.sparkContext._gateway.proc.pid)
        self.mb = 0.0

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def sample(self) -> None:
        self.mb = max(self.mb, sum(map(_vm_hwm_kb, self.pids)) / 1024.0)


def _cpu_steal() -> tuple:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()[:16]


class Run:
    """One benchmark run: timed ops, checks, optional tracing."""

    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 tracer):
        self.spark, self.workload, self.seed = spark, workload, seed
        self.seconds, self.tracer = seconds, tracer
        self.size = SIZES[workload]
        self.rss = PeakRss(spark)
        self.walls = {k: [] for k in OP_KINDS}
        self.ops = []          # (kind, wall, ok, span-or-None)
        self.failures = []
        self.hashes = {}
        self.pins_left = 0
        self.rounds = 0
        self.update_input_bytes = 0
        self.timeline = []     # (label, seconds since process start)

    def mark(self, label: str) -> None:
        self.timeline.append((label, round(time.perf_counter() - T_START,
                                           2)))

    # -- op harness ----------------------------------------------------------
    def layer(self, name: str):
        """Span around a public function the workload calls itself."""
        return (self.tracer.span(name) if self.tracer is not None
                else contextlib.nullcontext())

    def op(self, kind: str, fn, check):
        """Time ``fn`` (inside an op span when tracing), then run
        ``check(result)`` untimed. Returns the result, or None when the
        op raised or failed its check."""
        from redisgraph_bulk_loader_spark.cache import pinned_count

        sp = None
        self.rss.reset()
        try:
            with self.layer(f"op.{kind}") as sp:
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
        except Exception:
            self.failures.append(f"{kind}: {traceback.format_exc(limit=3)}")
            self.ops.append((kind, None, False, sp))
            return None
        self.rss.sample()
        self.pins_left = max(self.pins_left, pinned_count())
        try:
            problem = check(out)
        except Exception:
            problem = traceback.format_exc(limit=3)
        if problem:
            self.failures.append(f"{kind}: {problem}")
        else:
            self.walls[kind].append(wall)
        self.ops.append((kind, wall, not problem, sp))
        if self.tracer is not None:
            self.tracer.resolve()
        self.mark(kind)
        return None if problem else out

    def remember(self, key: str, value: str):
        """Output hash equal across this run's repeats and across runs
        of the same code with the same seed, traced or not."""
        prev = self.hashes.setdefault(key, value)
        if prev != value:
            return f"{key} hash {value} != {prev} earlier in this run"
        return None

    def loop(self, t0: float, round_fn) -> None:
        """Rounds of ``round_fn`` until ``seconds`` have passed since
        ``t0``, at least one."""
        while True:
            round_fn()
            self.rounds += 1
            if time.perf_counter() - t0 >= self.seconds:
                break

    # -- kg_build_dedup --------------------------------------------------------
    def kg_build_dedup(self) -> dict:
        from perfbench import gen
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog
        from redisgraph_bulk_loader_spark.operators.dedup import (
            dedup_assignments,
        )
        from redisgraph_bulk_loader_spark.plans import build_graph
        from redisgraph_bulk_loader_spark.sources import alias_table

        spark, n_kg = self.spark, self.size["kg_docs"]
        corpus = os.path.join(WORK, "in", "kg_corpus")
        dd_path = os.path.join(WORK, "in", "dedup_corpus")
        kg_info = gen.kg_corpus(self.seed, n_kg, corpus)
        planted = gen.dedup_corpus(self.seed, self.size["dedup_docs"],
                                   dd_path)
        gold, lsh_gold = kg_info["gold"], kg_info["lsh_gold"]
        aliases = alias_table(spark)
        catalog = GraphCatalog(spark, os.path.join(WORK, "catalog"))
        self.mark("inputs")

        def build():
            with self.layer("plans.build_graph"):
                return build_graph(spark, spark.read.parquet(corpus),
                                   aliases, catalog)

        def check_triples(res):
            got = {tuple(r) for r in res["triples"].select(
                "subj", "pred", "obj").collect()}
            hit = len(got & gold)
            p = hit / len(got) if got else 0.0
            r = hit / len(gold) if gold else 0.0
            if p < 0.95 or r < 0.95:
                return f"triple P/R {p:.4f}/{r:.4f} below 0.95"
            lsh_r = len(got & lsh_gold) / len(lsh_gold) if lsh_gold else 1.0
            if lsh_r < LSH_LINK_RECALL:
                return (f"recall {lsh_r:.4f} on the {len(lsh_gold)} triples "
                        f"only typo'd subjects evidence (LSH-linked) is "
                        f"below {LSH_LINK_RECALL}")
            self.lsh_link_recall = lsh_r
            return self.remember("triples", _digest(got))

        def dedup():
            # the returned frame is lazy: its fan-out join runs in the
            # collect, so the span covers both
            with self.layer("operators.dedup_assignments"):
                return dedup_assignments(
                    spark.read.parquet(dd_path), "doc_id", "text",
                    threshold=0.5, method="minhash").collect()

        def check_dedup(rows):
            rep = {r["doc_id"]: r["rep_id"] for r in rows}
            if len(rep) != planted["docs"] or len(rows) != planted["docs"]:
                return f"{len(rows)} assignments for {planted['docs']} docs"
            for g in planted["exact_groups"]:
                if {rep[d] for d in g} != {min(g)}:
                    return f"exact group {g[:3]}... not mapped to one rep"
            for d in planted["singles"]:
                if rep[d] != d:
                    return f"fresh doc {d} merged into {rep[d]}"
            merged = eligible = 0
            for near, (base, jac) in planted["near_of"].items():
                got = (rep[near], rep[base])
                if got != (near, base) and got != (min(near, base),) * 2:
                    return f"near pair {near}/{base} mapped to {got}"
                # a pair at or above the verify threshold left apart is
                # a banding miss
                if jac >= 0.5:
                    eligible += 1
                    merged += got[0] == got[1]
            recall = merged / eligible if eligible else 1.0
            if recall < NEAR_PAIR_RECALL:
                return (f"{merged} of {eligible} planted near pairs with "
                        f"Jaccard >= 0.5 merged, recall {recall:.4f} below "
                        f"{NEAR_PAIR_RECALL}")
            self.near_pair_recall = recall
            return self.remember("dedup", _digest(rep.items()))

        # The dedup runs first, so the build runs on a warm JVM: the
        # first Spark work of a process pays JIT, codegen and worker
        # start-up (a cold dedup takes ~18 s, a warm one ~6 s), and a
        # cold build moved by 30% between runs, a warm one by 6-10%.
        self.loop(time.perf_counter(),
                  lambda: self.op("dedup", dedup, check_dedup))
        self.op("build", build, check_triples)
        if self.tracer is not None:
            for _ in range(self.size["traced_resumes"]):
                self.op("resume", build, check_triples)
        return {
            "job1_items": kg_info["docs"],
            "inputs": {"kg_docs": kg_info["docs"], "kg_spans": kg_info["spans"],
                       "kg_typo_spans": kg_info["typo_spans"],
                       "kg_lsh_only_triples": len(lsh_gold),
                       "dedup_docs": planted["docs"],
                       "dedup_mix": planted["mix"]},
        }

    # -- graph_load_update -----------------------------------------------------
    def graph_load_update(self) -> dict:
        from perfbench import gen
        from redisgraph_bulk_loader_spark.config import Config
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog
        from redisgraph_bulk_loader_spark.plans.loader import bulk_insert
        from redisgraph_bulk_loader_spark.plans.updater import (
            read_update_csv,
            run_edge_update_query,
            run_node_merge_query,
        )

        spark, sz = self.spark, self.size
        info = gen.loader_csvs(self.seed, sz["nodes"], sz["edges"],
                               os.path.join(WORK, "in", "loader"))
        catalog = GraphCatalog(spark, os.path.join(WORK, "graph"))
        expect = {"nodes": info["nodes"], "edges": info["edges"]}
        self.mark("inputs")

        def load():
            # insert_main's sequence after argument parsing
            with self.layer("plans.bulk_insert"):
                g = bulk_insert(spark, [(info["nodes_path"], None)],
                                [(info["edges_path"], None)],
                                Config(separator="|"))
            catalog.write("nodes", g.nodes, partition_by=["label"],
                          stage="nodes", input_fingerprint=None)
            catalog.write("node_registry", g.registry, stage="node_registry",
                          input_fingerprint=None)
            n_nodes = sum(r["n"] for r in g.node_counts.collect())
            catalog.write("edges", g.edges, partition_by=["rel_type"],
                          stage="edges", input_fingerprint=None)
            n_edges = sum(r["n"] for r in g.edge_counts.collect())
            return n_nodes, n_edges

        def check_load(counts):
            if counts != (expect["nodes"], expect["edges"]):
                return f"loaded {counts}, generated {tuple(expect.values())}"
            rows = catalog.read("nodes").select(
                "label", "key", "props_json").collect()
            return self.remember("nodes", _digest(rows))

        t0 = time.perf_counter()
        if self.op("load", load, check_load) is None:
            return {"job1_items": info["nodes"] + info["edges"],
                    "inputs": {}}

        def update(kind: str, spec: dict):
            rows_df = read_update_csv(spark, spec["path"], separator="|")
            if kind == "node_update":
                with self.layer("plans.run_node_merge_query"):
                    merged = run_node_merge_query(
                        spark, catalog.read("nodes"), rows_df,
                        "row[0] AS key, row[1] AS status, row[2] AS level",
                        label="Person")
                catalog.write("nodes", merged, stage="update",
                              partition_by=catalog.current_partition_by(
                                  "nodes"), input_fingerprint=None)
                return catalog.read("nodes").count(), expect["edges"]
            with self.layer("plans.run_edge_update_query"):
                nodes2, edges2 = run_edge_update_query(
                    spark, catalog.read("nodes"), catalog.read("edges"),
                    rows_df,
                    "row[0] AS src_key, row[1] AS dst_key, row[2] AS tag",
                    rel_type="KNOWS", dest_label="Person", dest_mode="merge")
            catalog.write("nodes", nodes2, stage="update",
                          partition_by=catalog.current_partition_by("nodes"),
                          input_fingerprint=None)
            catalog.write("edges", edges2, stage="update",
                          partition_by=catalog.current_partition_by("edges"),
                          input_fingerprint=None)
            return (catalog.read("nodes").count(),
                    catalog.read("edges").count())

        n_op = [0]

        def run_update(kind: str, make):
            spec = make(self.seed, n_op[0], sz["nodes"], sz["update_rows"],
                        sz["existing_share"],
                        os.path.join(WORK, "in", f"update_{n_op[0]}.csv"))
            n_op[0] += 1
            self.update_input_bytes += spec["input_bytes"]
            want = (expect["nodes"] + spec["new_nodes"],
                    expect["edges"] + spec["new_edges"])

            def check(counts):
                if counts != want:
                    return f"read back {counts}, predicted {want}"
                expect["nodes"], expect["edges"] = want
                return None

            self.op(kind, lambda: update(kind, spec), check)

        def one_round():
            for _ in range(sz["node_ops_per_round"]):
                run_update("node_update", gen.node_update_csv)
            if self.tracer is not None:
                run_update("edge_update", gen.edge_update_csv)

        self.loop(t0, one_round)
        return {
            "job1_items": info["nodes"] + info["edges"],
            "inputs": {"nodes": info["nodes"], "edges": info["edges"],
                       "load_input_bytes": info["input_bytes"],
                       "update_ops": n_op[0],
                       "update_rows": sz["update_rows"],
                       "update_existing_share": sz["existing_share"]},
        }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(run: Run, setup_s: float, job1_items: int) -> dict:
    first, second = JOBS[run.workload]
    walls = run.walls[first]
    return {
        "setup_s": setup_s,
        "peak_rss_mb": run.rss.mb,
        "job1_items_per_s": job1_items / walls[0] if walls else 0.0,
        # the last op of the round: the loader's first node op is its
        # warm-up (it runs cold, ~1.8x the next one)
        "job2_s": run.walls[second][-1] if run.walls[second] else 0.0,
    }


def per_layer(run: Run, tracer) -> dict:
    """Layer metrics from the spans of the timed ops (totals over the
    run; ``run.rounds`` rounds of follow-up ops)."""
    kids = tracer.children()
    spans = tracer.spans
    by_name = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def tree_jobs(s):
        return sum(len(x.jobs) for x in tracer.subtree(s, kids))

    def wall(name):
        return sum((s.end or s.start) - s.start for s in by_name.get(name, []))

    def jobs(name):
        return sum(tree_jobs(s) for s in by_name.get(name, []))

    def sql(name, key):
        return sum(x.sql.get(key, 0.0) for s in by_name.get(name, [])
                   for x in tracer.subtree(s, kids))

    ops = [s for s in spans if s.name.startswith("op.")]
    every = [x for s in ops for x in tracer.subtree(s, kids)]
    m = {
        "spark.jobs": sum(len(x.jobs) for x in every),
        "spark.stages": sum(x.stages for x in every),
        "spark.tasks": sum(x.tasks for x in every),
        "spark.executor_run_s": sum(x.executor_run_s for x in every),
        "spark.shuffle_write_bytes": sum(x.shuffle_write_bytes for x in every),
        "spark.shuffle_write_bytes_sql": sum(
            x.sql.get("shuffle bytes written", 0.0) for x in every),
        "spark.spill_bytes": sum(x.spill_bytes for x in every),
        "extract.python_worker_s": sql("materialize.write.mentions",
                                       "time to run Python workers"),
        "extract.python_bytes": sql("materialize.write.mentions",
                                    "python_bytes"),
        "materialize.fingerprint_df.wall_s": wall(
            "materialize.fingerprint_df"),
        "materialize.fingerprint_df.jobs": jobs("materialize.fingerprint_df"),
        "materialize.read.wall_s": wall("materialize.read"),
        "link.lsh_candidate_pairs.wall_s": wall("link.lsh_candidate_pairs"),
        "link.lsh_candidate_pairs.jobs": jobs("link.lsh_candidate_pairs"),
        "plans.canonicalize.wall_s": wall("plans.canonicalize"),
        "plans.canonicalize.jobs": jobs("plans.canonicalize"),
        "plans.build_graph.self_s": sum(
            tracer.self_time(s, kids) for s in by_name.get(
                "plans.build_graph", [])),
        "plans.build_graph.self_jobs": sum(
            len(s.jobs) for s in by_name.get("plans.build_graph", [])),
    }
    for t in WRITE_TABLES:
        m[f"materialize.write.{t}.wall_s"] = wall(f"materialize.write.{t}")
        m[f"materialize.write.{t}.jobs"] = jobs(f"materialize.write.{t}")
    written = sum(s.counts.get("bytes_written", 0) for s in spans)
    upd_written = sum(s.counts.get("bytes_written", 0) for s in spans
                      if s.name.startswith("materialize.write.update_"))
    m["materialize.bytes_written"] = written
    m["materialize.bytes_per_input_byte"] = (
        upd_written / run.update_input_bytes if run.update_input_bytes
        else 0.0)
    m["kernel.python_worker_s"] = sql("op.load", "time to run Python workers")
    m["kernel.python_bytes"] = sql("op.load", "python_bytes")
    for name in ("plans.bulk_insert", "plans.run_node_merge_query",
                 "plans.run_edge_update_query",
                 "operators.dedup_assignments"):
        m[f"{name}.wall_s"] = wall(name)
        m[f"{name}.jobs"] = jobs(name)
    m["operators.resolve_endpoints.jobs"] = jobs("operators.resolve_endpoints")
    m["operators.dedup_assignments.shuffle_write_bytes"] = sum(
        x.shuffle_write_bytes for s in by_name.get(
            "operators.dedup_assignments", [])
        for x in tracer.subtree(s, kids))
    dd = by_name.get("operators.dedup_assignments", [])
    for c in ("band_join_rows", "candidate_pairs", "verified_pairs"):
        m[f"operators.dedup.{c}"] = sum(s.counts.get(c, 0) for s in dd)
    cand = m["operators.dedup.candidate_pairs"]
    m["operators.dedup.verify_yield"] = (
        m["operators.dedup.verified_pairs"] / cand if cand else 0.0)
    m["cache.pins_left"] = run.pins_left
    for kind in OP_KINDS:
        these = [s for s in ops if s.name == f"op.{kind}"]
        m[f"op.{kind}.jobs"] = _median([tree_jobs(s) for s in these])
        m[f"op.{kind}.wall_s"] = _median(
            [(s.end or s.start) - s.start for s in these])
    m["run.rounds"] = run.rounds
    return m


def install_spans(tracer) -> None:
    """Spans around the public functions the workloads reach only
    through the package. Module-level names are patched where their
    callers look them up; the functions a workload calls itself get
    their span in the workload (``Run.layer``)."""
    from redisgraph_bulk_loader_spark.materialize import tables
    from redisgraph_bulk_loader_spark.operators import endpoints
    from redisgraph_bulk_loader_spark.plans import pipeline

    def dir_bytes(path):
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, files in os.walk(path) for f in files)

    def write_name(self, table, df, **kw):
        prefix = "update_" if kw.get("stage") == "update" else ""
        return f"materialize.write.{prefix}{table}"

    def write_counting(fn, sp, self, table, df, **kw):
        # bytes this write adds to the table directory (one snapshot)
        before = dir_bytes(self.path(table))
        fn(self, table, df, **kw)
        sp.counts["bytes_written"] = dir_bytes(self.path(table)) - before

    gc = tables.GraphCatalog
    tracer.wrap(gc, "write", write_name, inner=write_counting)
    tracer.wrap(gc, "read", lambda *a, **k: "materialize.read")
    tracer.wrap(gc, "fingerprint_df",
                lambda *a, **k: "materialize.fingerprint_df", static=True)
    # lsh_candidate_pairs returns a lazy frame whose jobs run when the
    # pipeline's leftovers pass checkpoints it, so the span is opened
    # on that pass (leftover probe + LSH plan + checkpoint)
    lsh = ("_lsh_extra_mappings_scoped"
           if hasattr(pipeline, "_lsh_extra_mappings_scoped")
           else "lsh_candidate_pairs")
    tracer.wrap(pipeline, lsh, lambda *a, **k: "link.lsh_candidate_pairs")
    tracer.wrap(pipeline, "canonicalize", lambda *a, **k: "plans.canonicalize")
    for mod in (pipeline, endpoints):
        tracer.wrap(mod, "resolve_endpoints",
                    lambda *a, **k: "operators.resolve_endpoints")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _pin_environment()
    # Fails here (non-zero exit, no result) when the package is absent.
    import redisgraph_bulk_loader_spark  # noqa: F401
    from perfbench.trace import Tracer

    shutil.rmtree(os.path.join(WORK, "in"), ignore_errors=True)
    spark = None
    try:
        # one start per process: a second start in the same process
        # would reuse the running gateway JVM and skip its launch
        spark, setup_s = start_session()
        tracer = Tracer(spark) if args.trace else None
        run = Run(spark, args.workload, args.seed, args.seconds, tracer)
        run.mark("setup")
        if tracer is not None:
            install_spans(tracer)
        steal0 = _cpu_steal()
        try:
            info = getattr(run, args.workload)()
        finally:
            if tracer is not None:
                tracer.unpatch()
        steal1 = _cpu_steal()
        run.steal_share = ((steal1[0] - steal0[0])
                           / max(steal1[1] - steal0[1], 1))
    finally:
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            # the gateway JVM exits when its stdin closes; wait for it
            # (its Python workers exit with it)
            jvm.stdin.close()
            jvm.wait(timeout=60)
        for d in ("in", "catalog", "graph", "local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    run.mark("stop")
    e2e = end_to_end(run, setup_s, info["job1_items"])
    hash_problem = _check_hash_record(args, run)
    if hash_problem:
        run.failures.append(hash_problem)
    attempted = len(run.ops)
    failed = sum(1 for op in run.ops if not op[2]) + (1 if hash_problem
                                                      else 0)
    _print_table(args, run, e2e, info, attempted, failed)
    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    if args.trace:
        layers = per_layer(run, tracer)
        _write_artifact(args, run, tracer, layers, e2e, info)
        metrics = {k: {"value": v, "unit": _layer_unit(k)}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E}
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))
    return 0


def _source_digest() -> str:
    """Digest of the package and benchmark sources: output hashes are
    compared only between runs of the same code."""
    h = hashlib.sha256()
    for top in (PACKAGE, HERE):
        for dp, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dp, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _check_hash_record(args, run: Run):
    """Runs of the same code with the same workload and seed must
    produce the same output hashes, traced or not."""
    path = os.path.join(OUT, "output_hashes.json")
    key = f"{_source_digest()}:{args.workload}:{args.seed}"
    record = {}
    if os.path.exists(path):
        with open(path) as f:
            record = json.load(f)
    prev = record.get(key, {})
    bad = sorted(k for k in run.hashes if k in prev and prev[k] != run.hashes[k])
    if bad:
        return (f"output hashes {run.hashes} differ from an earlier run "
                f"with the same seed: {prev}")
    if any(k not in prev for k in run.hashes):
        record[key] = {**prev, **run.hashes}
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return None


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_sql") or \
            name == "materialize.bytes_written":
        return "bytes"
    if name.endswith("yield") or name.endswith("per_input_byte"):
        return "ratio"
    return "count"


def _print_table(args, run, e2e, info, attempted, failed) -> None:
    """This workload's end-to-end view under the per-workload metric
    names (kg_build_docs_per_s, load_rows_per_s, ...), printed before
    the JSON line."""
    w = run.walls
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"cores={CORES} rounds={run.rounds} trace={args.trace} "
          f"cpu_steal_share={getattr(run, 'steal_share', 0.0):.4f}")
    print(f"  inputs: {json.dumps(info['inputs'], sort_keys=True)}")
    rows = [
        ("setup_s", e2e["setup_s"], "s", "session start + worker warm-up"),
        ("peak_rss_mb", e2e["peak_rss_mb"], "MB",
         "driver + JVM VmHWM during the timed ops"),
        ("failed_op_ratio", failed / max(attempted, 1), "failed/attempted",
         f"{failed}/{attempted}"),
    ]
    def p50(kind, traced_only=False):
        note = f"n={len(w[kind])}" + (", traced runs only" if traced_only
                                      else "")
        return _median(w[kind]), note

    if args.workload == "kg_build_dedup":
        n_kg, n_dd = (info["inputs"].get("kg_docs", 0),
                      info["inputs"].get("dedup_docs", 0))
        resume, resume_note = p50("resume", True)
        dedup = e2e["job2_s"]
        rows += [
            ("kg_build_docs_per_s", n_kg / w["build"][0] if w["build"] else 0,
             "docs/s", "= job1_items_per_s"),
            ("kg_resume_s", resume, "s", resume_note),
            ("dedup_docs_per_s", n_dd / dedup if dedup else 0, "docs/s",
             "docs / job2_s"),
            ("lsh_link_recall", getattr(run, "lsh_link_recall", 0.0), "share",
             "of triples only typo'd subjects evidence"),
            ("near_pair_recall", getattr(run, "near_pair_recall", 0.0),
             "share", "of planted near pairs merged"),
        ]
    else:
        edge, edge_note = p50("edge_update", True)
        rows += [
            ("load_rows_per_s",
             info["job1_items"] / w["load"][0] if w["load"] else 0,
             "rows/s", "= job1_items_per_s"),
            ("update_node_p50_s", e2e["job2_s"], "s",
             f"= job2_s, the last of {len(w['node_update'])} node ops"),
            ("update_edge_p50_s", edge, "s", edge_note),
        ]
    for name, value, unit, note in rows:
        print(f"  {name:<22} {value:>14.4f} {unit:<16} {note}")
    print("  timeline (s): " + json.dumps(run.timeline))
    print("  op walls (s): " + json.dumps(
        {k: [round(x, 3) for x in v] for k, v in w.items() if v}))


def _write_artifact(args, run, tracer, layers, e2e, info) -> None:
    """Spans, the per-layer table, the counter cross-check and the
    repeatability report of one traced run."""
    path = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
    previous = None
    if os.path.exists(path):
        with open(path) as f:
            previous = json.load(f)
    kids = tracer.children()
    per_op = []
    for kind, wall, ok, sp in run.ops:
        if sp is None:
            continue
        tree = tracer.subtree(sp, kids)
        dd = [x for x in tree if x.name == "operators.dedup_assignments"]
        per_op.append({
            "kind": kind, "wall_s": wall, "ok": ok,
            "jobs": sum(len(x.jobs) for x in tree),
            "tasks": sum(x.tasks for x in tree),
            "candidate_pairs": sum(x.counts.get("candidate_pairs", 0)
                                   for x in dd),
            "verified_pairs": sum(x.counts.get("verified_pairs", 0)
                                  for x in dd),
        })
    repeat = {}
    for kind in OP_KINDS:
        these = [o for o in per_op if o["kind"] == kind]
        if len(these) < 2:
            continue
        repeat[kind] = {k: len({o[k] for o in these}) == 1 for k in
                        ("jobs", "tasks", "candidate_pairs",
                         "verified_pairs")}
    if previous is not None:
        for kind in OP_KINDS:
            a = [o for o in per_op if o["kind"] == kind][:1]
            b = [o for o in previous.get("ops", []) if o["kind"] == kind][:1]
            if a and b:
                repeat[f"{kind}_vs_previous_run"] = {
                    k: a[0][k] == b[0][k] for k in
                    ("jobs", "tasks", "candidate_pairs", "verified_pairs")}
    status = layers["spark.shuffle_write_bytes"]
    sqlb = layers["spark.shuffle_write_bytes_sql"]
    xcheck = {
        "status_store_shuffle_write_bytes": status,
        "sql_metric_shuffle_write_bytes": sqlb,
        "relative_difference": (abs(status - sqlb) / max(status, sqlb)
                                if max(status, sqlb) else 0.0),
        "note": "SQL metric values are formatted with 3-4 significant "
                "digits; a relative difference above 0.05 is a mismatch",
    }
    xcheck["mismatch"] = xcheck["relative_difference"] > 0.05
    artifact = {
        "workload": args.workload, "seed": args.seed, "cores": CORES,
        "inputs": info["inputs"], "rounds": run.rounds,
        "end_to_end_traced": e2e,
        "per_layer": layers, "ops": per_op, "repeatability": repeat,
        "shuffle_cross_check": xcheck, "failures": run.failures,
        "spans": tracer.dump(),
    }
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"  trace artifact: {os.path.relpath(path, ROOT)}")
    print(f"  shuffle cross-check: {json.dumps(xcheck)}")
    print(f"  repeatability: {json.dumps(repeat)}")


if __name__ == "__main__":
    sys.exit(main())
