"""Sessions, timed loops, output checks and the traced layer sweep.

Every call into the program goes through public functions:
``prec_spark.pipeline.run_pipeline``, the layer functions in
``PIPELINE_SPANS`` and ``PLAN_SPANS`` and ``prec_spark.entry_queries.queries()``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import checks
import eventlog
import inputs
import procstat
from prec_spark import pipeline
from prec_spark.contexts.model import PRSCCatalog
from prec_spark.entry_queries import queries
from prec_spark.flagship import TRANSCRIPT_CONTEXT
from prec_spark.pg.projection import pg_edges, pg_nodes
from prec_spark.prsc.apply import apply_prsc
from prec_spark.session import build_session
from prec_spark.text.mentions import canonical_entities, entity_links, entity_triples
from prec_spark.transcripts import transcripts_df

#: pipeline stages in run order (prec_spark/pipeline.py)
STAGES = (
    "transcripts", "pg_nodes", "pg_edges", "entity_links", "canonical_entities", "kg_triples",
)

#: kg_analytics query order
KG_QUERIES = ("kg_components", "kg_pagerank", "kg_path_star")

#: the per-layer counters folded from the event log, plus the span wall
COUNTERS = (
    "wall_s", "cpu_s", "gc_s", "jobs", "task_skew",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "rows_in",
)

#: traced pipeline-layer spans (full counter set)
PIPELINE_SPANS = (
    "transcripts.transcripts_df",
    "pg.projection.pg_nodes",
    "pg.projection.pg_edges",
    "text.mentions.entity_links",
    "text.mentions.canonical_entities",
    "text.mentions.entity_triples",
    "prsc.apply.apply_prsc",
)

#: traced plan spans -> the function's name in prec_spark.entry_queries,
#: whose call arguments are recorded during a query round and replayed
PLAN_SPANS = {
    "plans.components.cc_iterate_ids": "cc_iterate_ids",
    "plans.pagerank.pagerank_iterate_ids": "pagerank_iterate_ids",
    "plans.paths.path_closure": "path_closure",
}

_MB = 1024.0 * 1024.0


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in print order."""
    names = [f"{s}.{c}" for s in (*PIPELINE_SPANS, *PLAN_SPANS) for c in COUNTERS]
    names += ["prsc.apply.apply_prsc.triples_out", "prsc.apply.apply_prsc.quarantined"]
    names += ["contexts.model.from_turtle.wall_s"]
    names += [
        f"checkpoint.{s}.{c}" for s in STAGES for c in ("wall_s", "written_mb", "resume_s")
    ]
    names += ["pipeline.run_pipeline.resume_s"]
    names += ["cached.build_s", "cached.storage_mb"]
    names += [f"entry_queries.{q}.{c}" for q in KG_QUERIES for c in ("cold_s", "warm_s")]
    names += ["trace.self_cover_frac", "trace.overhead_frac"]
    return names


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path = os.path.realpath(path)
    best, kind = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, fstype
    return kind


def noop(df: DataFrame) -> int:
    """Force every column of ``df``; returns its row count."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["rows"])


@dataclass
class Op:
    wall_s: float
    cpu_s: float
    ok: bool


@dataclass
class Bench:
    """One benchmark process: a workload on a seeded input."""

    seed: int
    seconds: float
    sf: float
    work: str
    warm_ops: int
    spark: SparkSession | None = None
    in_dir: str = ""
    jvm_pid: int = 0
    ops: list[Op] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    # ---- session -----------------------------------------------------
    def conf(self, traced: bool) -> dict[str, str]:
        c = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            c.update(eventlog.eventlog_conf(os.path.join(self.work, "eventlog")))
        return c

    def start_session(self, traced: bool = False) -> None:
        """(Re)start the session with build_session defaults, as the CLI."""
        if self.spark is not None:
            self.spark.stop()
        self.spark = build_session(
            app_name="perfbench", master=f"local[{nproc()}]", extra_conf=self.conf(traced)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        """Stop the session and wait for the gateway JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def setup(self, rounds: int) -> list[float]:
        """``rounds`` set-ups, each (re)starting the session and staging
        the seeded input; returns their walls."""
        for d in ("tmp", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        # keep the gateway's and the launcher JVM's temp files in the workdir
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        tempfile.tempdir = None
        walls = []
        for _ in range(rounds):
            t0 = time.perf_counter()
            self.start_session()
            self.in_dir = inputs.stage_input(self.sf, self.seed, os.path.join(self.work, "input"))
            walls.append(time.perf_counter() - t0)
        return walls

    def host_facts(self) -> dict:
        import pyspark

        local = self.spark.conf.get("spark.local.dir")
        return {
            "nproc": nproc(),
            "master": self.spark.sparkContext.master,
            "pyspark": pyspark.__version__,
            "java": str(self.spark._jvm.java.lang.System.getProperty("java.version")),
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "workdir_fs": fs_type(self.work),
            "local_dir_fs": fs_type(local),
            "sf": self.sf,
            "lineitem_rows": round(inputs.ROWS_PER_SF * self.sf),
        }

    # ---- timing ------------------------------------------------------
    def measure(self, fn):
        """(result or None, wall s, JVM-tree CPU s) of one call; an
        exception is recorded and gives a None result."""
        cpu0 = procstat.tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            result = None
            self.errors.append(traceback.format_exc())
        wall = time.perf_counter() - t0
        return result, wall, procstat.tree_cpu_s(self.jvm_pid) - cpu0

    def loop(self, op) -> list[Op]:
        """Closed loop, one client: run ``op`` at least ``warm_ops`` times,
        then again only while the next run is expected (by the last one's
        wall) to end within ``seconds``."""
        ops, t0 = [], time.perf_counter()
        while True:
            ops.append(op())
            spent = time.perf_counter() - t0
            if len(ops) >= self.warm_ops and spent + ops[-1].wall_s > self.seconds:
                return ops

    def span(self, label: str, fn):
        """Run ``fn`` with its jobs labelled; returns (result, wall s)."""
        sc = self.spark.sparkContext
        sc.setJobDescription(label)
        try:
            t0 = time.perf_counter()
            result = fn()
            return result, time.perf_counter() - t0
        finally:
            sc.setJobDescription(None)

    def expect(self, what: str, got, want) -> bool:
        """One output check; a mismatch is recorded."""
        if got != want:
            self.errors.append(f"output check failed: {what} {got!r}, expected {want!r}")
        return got == want


def oracle_expectations(in_dir: str, counts, digests) -> tuple[dict, dict]:
    """Row counts of the oracle queries ``counts`` and digests of
    ``digests``, from DuckDB over the staged input.  Each pipeline stage
    has an oracle query of its own name."""
    oracle = checks.Oracle(in_dir, nproc(), tempfile.gettempdir())
    try:
        return {q: oracle.count(q) for q in counts}, {q: oracle.digest(q) for q in digests}
    finally:
        oracle.close()


def with_oracle(in_dir: str, counts, digests, spark_side):
    """Run ``spark_side()`` while DuckDB computes the expectations on a
    thread (both are untimed); returns (spark_side(), counts, digests)."""
    with ThreadPoolExecutor(1) as pool:
        fut = pool.submit(oracle_expectations, in_dir, counts, digests)
        got = spark_side()
        return (got, *fut.result())


# ---- pipeline_fresh --------------------------------------------------


def run_metrics(workdir: str, run_idx: int) -> list[dict]:
    """The ``metrics.jsonl`` lines of the workdir's ``run_idx``-th run."""
    with open(os.path.join(workdir, "metrics.jsonl")) as f:
        lines = [json.loads(line) for line in f]
    return lines[run_idx * len(STAGES):(run_idx + 1) * len(STAGES)]


class PipelineOps:
    """``run_pipeline`` into a workdir, then count the triples: the CLI's path."""

    def __init__(self, b: Bench):
        self.b = b
        self.n = 0

    def new_workdir(self) -> str:
        self.n += 1
        return os.path.join(self.b.work, f"kg-{self.n}")

    def run(self, workdir: str) -> int:
        triples, _ = pipeline.run_pipeline(self.b.spark, self.b.in_dir, workdir)
        return triples.count()

    def digest(self, workdir: str):
        """(rows, digest) of the workdir's triples; None if unreadable."""
        path = os.path.join(workdir, "kg_triples")
        return self.b.measure(lambda: checks.spark_digest(self.b.spark.read.parquet(path)))[0]

    def check(self, workdir: str, run_idx: int, n, counts: dict) -> bool:
        """The triple count, and the exact per-stage rows and resume flags
        of the workdir's ``run_idx``-th run in its ``metrics.jsonl``."""
        try:
            lines = run_metrics(workdir, run_idx)
        except OSError:
            lines = []
        got = [(m["stage"], m["rows"], m["resumed"]) for m in lines]
        want = [(s, counts[s], run_idx > 0) for s in STAGES]
        what = f"{workdir} run {run_idx}"
        ok = self.b.expect(f"{what} triples", n, counts["kg_triples"])
        return self.b.expect(f"{what} metrics.jsonl", got, want) and ok


def run_pipeline_fresh(b: Bench, trace: bool) -> dict:
    p = PipelineOps(b)
    runs: list[tuple[str, object, Op]] = []
    written = []

    def op() -> Op:
        wd = p.new_workdir()
        n, wall, cpu = b.measure(lambda: p.run(wd))
        written.append(dir_bytes(wd) / _MB)
        b.ops.append(Op(wall, cpu, True))
        runs.append((wd, n, b.ops[-1]))
        return b.ops[-1]

    procstat.reset_peak_rss(b.jvm_pid)
    cold = op()
    warm = b.loop(op)
    b.extra["peak_rss_mb"] = procstat.peak_rss_mb(b.jvm_pid)
    b.extra["written_mb"] = statistics.median(written)

    def spark_side():
        """Untimed: the first and last runs' triples, then the resume
        contract -- a resumed run over the last workdir returns the same
        triples and recomputes no stage."""
        first, last = runs[0][0], runs[-1][0]
        digests = {first: p.digest(first), last: p.digest(last)}
        resumed, _, _ = b.measure(
            lambda: checks.spark_digest(pipeline.run_pipeline(b.spark, b.in_dir, last)[0])
        )
        return digests, resumed

    (digests, resumed), counts, want = with_oracle(
        b.in_dir, STAGES, ("kg_triples",), spark_side
    )
    want = want["kg_triples"]
    for wd, n, o in runs:
        o.ok = p.check(wd, 0, n, counts)
        if wd in digests:
            o.ok = b.expect(f"{wd} digest", digests[wd], want) and o.ok
    last = runs[-1][0]
    resumed_n = resumed[0] if resumed else None
    if not (p.check(last, 1, resumed_n, counts) and b.expect("resumed digest", resumed, want)):
        b.extra["checks_ok"] = False
    out = {"cold": cold, "warm": warm, "triples": counts["kg_triples"]}
    if trace:
        out["layers"] = trace_pipeline(b, p, warm[-1].wall_s)
    return out


# ---- kg_analytics ----------------------------------------------------


def run_kg_analytics(b: Bench, trace: bool) -> dict:
    q = queries()
    per_query: dict[str, list[float]] = {name: [] for name in KG_QUERIES}
    rounds: list[tuple[Op, dict]] = []

    def op() -> Op:
        """The three queries in order; each result is digested inside
        its own timing (the digest forces every column)."""
        wall = cpu = 0.0
        got = {}
        for name in KG_QUERIES:
            got[name], w, c = b.measure(
                lambda: checks.spark_digest(q[name](b.spark, b.in_dir))
            )
            per_query[name].append(w)
            wall, cpu = wall + w, cpu + c
        b.ops.append(Op(wall, cpu, True))
        rounds.append((b.ops[-1], got))
        return b.ops[-1]

    procstat.reset_peak_rss(b.jvm_pid)
    cold = op()
    warm = b.loop(op)
    b.extra["peak_rss_mb"] = procstat.peak_rss_mb(b.jvm_pid)
    b.extra["storage_mb"] = storage_mb(b.spark)

    def spark_side():
        """Untimed: the kg_triples query, the third output whose (s, p, o)
        set must equal the pipeline's."""
        d, _, _ = b.measure(lambda: checks.spark_digest(q["kg_triples"](b.spark, b.in_dir)))
        return d

    kg_d, _, want = with_oracle(b.in_dir, (), ("kg_triples", *KG_QUERIES), spark_side)
    for i, (o, got) in enumerate(rounds):
        o.ok = all([b.expect(f"round {i} {n} digest", got[n], want[n]) for n in KG_QUERIES])
    if not b.expect("kg_triples digest", kg_d, want["kg_triples"]):
        b.extra["checks_ok"] = False
    out = {"cold": cold, "warm": warm, "triples": want["kg_triples"][0], "per_query": per_query}
    if trace:
        out["layers"] = trace_kg(b, per_query, warm[-1].wall_s)
    return out


def storage_mb(spark: SparkSession) -> float:
    """Memory plus disk held by persisted RDDs (caches and checkpoints)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


# ---- traced run ------------------------------------------------------
#
# The end-to-end runs above keep the event log off.  A traced run then
# restarts the session with the event log on, repeats the workload's
# operation under a label (tracing overhead), and calls each layer
# function on inputs the untraced part already materialized, forcing its
# output with a noop write.  Spans not on the workload's path report 0.


def from_turtle_s(reps: int = 5) -> float:
    """Median wall of parsing the transcript context (pure Python)."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        PRSCCatalog.from_turtle(TRANSCRIPT_CONTEXT)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def checkpoint_layers(workdir: str, run_idx: int, counter: str) -> dict[str, float]:
    """checkpoint.<stage>.<counter>: the stage walls of the workdir's
    ``run_idx``-th run, from its own metrics.jsonl."""
    return {
        f"checkpoint.{m['stage']}.{counter}": m["wall_ms"] / 1000.0
        for m in run_metrics(workdir, run_idx)
    }


def sweep_pipeline_layers(b: Bench, src: str) -> tuple[dict[str, float], dict[str, float]]:
    """Span walls of the pipeline layers over the stage checkpoints under
    ``src``, and the PRSC output counts."""
    read = lambda s: b.spark.read.parquet(os.path.join(src, s))  # noqa: E731
    t, nodes, edges = read("transcripts"), read("pg_nodes"), read("pg_edges")
    spark, sf = b.spark, b.in_dir
    catalog = PRSCCatalog.from_turtle(TRANSCRIPT_CONTEXT)
    counts: dict[str, float] = {}

    def prsc():
        triples, quarantine = apply_prsc(spark, nodes, edges, catalog)
        counts["prsc.apply.apply_prsc.triples_out"] = noop(triples)
        counts["prsc.apply.apply_prsc.quarantined"] = noop(quarantine)

    calls = {
        "transcripts.transcripts_df": lambda: noop(transcripts_df(spark, sf)),
        "pg.projection.pg_nodes": lambda: noop(pg_nodes(t)),
        "pg.projection.pg_edges": lambda: noop(pg_edges(t)),
        "text.mentions.entity_links": lambda: noop(entity_links(spark, sf, t)),
        "text.mentions.canonical_entities": lambda: noop(canonical_entities(spark, sf, t)),
        "text.mentions.entity_triples": lambda: noop(entity_triples(spark, sf, t)),
        "prsc.apply.apply_prsc": prsc,
    }
    walls = {label: b.span(label, fn)[1] for label, fn in calls.items()}
    return walls, counts


def fold_layers(b: Bench, app_id: str, walls: dict[str, float]) -> dict[str, float]:
    """Stop the traced session (flushing its log) and fold the counters
    of every labelled span."""
    b.spark.stop()
    b.spark = None
    folded = eventlog.fold(os.path.join(b.work, "eventlog", app_id))
    out = {}
    for label, wall in walls.items():
        row = folded.get(label, {})
        out[f"{label}.wall_s"] = wall
        for c in COUNTERS[1:]:
            out[f"{label}.{c}"] = row.get(c, 0.0)
    return out


def trace_pipeline(b: Bench, p: PipelineOps, untraced_s: float) -> dict[str, float]:
    """Traced fresh run (write side of the checkpoint layer), traced
    resume of its workdir (read side), then the pipeline-layer sweep."""
    b.start_session(traced=True)
    app_id = b.spark.sparkContext.applicationId
    wd = p.new_workdir()
    _, traced_s = b.span("op", lambda: p.run(wd))
    layers = checkpoint_layers(wd, 0, "wall_s")
    for s in STAGES:
        layers[f"checkpoint.{s}.written_mb"] = dir_bytes(os.path.join(wd, s)) / _MB
    _, layers["pipeline.run_pipeline.resume_s"] = b.span("resume", lambda: p.run(wd))
    layers.update(checkpoint_layers(wd, 1, "resume_s"))
    walls, counts = sweep_pipeline_layers(b, wd)
    layers.update(counts)
    layers.update(fold_layers(b, app_id, walls))
    layers["contexts.model.from_turtle.wall_s"] = from_turtle_s()
    layers["trace.self_cover_frac"] = sum(walls.values()) / untraced_s
    layers["trace.overhead_frac"] = traced_s / untraced_s - 1.0
    return layers


def trace_kg(b: Bench, per_query: dict[str, list[float]], untraced_s: float) -> dict[str, float]:
    """Per-query cold/warm walls of the untraced rounds, then two traced
    rounds (the first rebuilds the session-shared frames) during which
    the plan functions' arguments are recorded, then the plan sweep."""
    import prec_spark.entry_queries as eq

    layers = {}
    for name, walls in per_query.items():
        layers[f"entry_queries.{name}.cold_s"] = walls[0]
        layers[f"entry_queries.{name}.warm_s"] = statistics.median(walls[1:])
    first = KG_QUERIES[0]
    layers["cached.build_s"] = (
        layers[f"entry_queries.{first}.cold_s"] - layers[f"entry_queries.{first}.warm_s"]
    )
    layers["cached.storage_mb"] = b.extra["storage_mb"]

    captured: dict[str, tuple] = {}

    def capture(span, fn):
        def wrapper(*args, **kwargs):
            captured[span] = (args, kwargs)
            return fn(*args, **kwargs)

        return wrapper

    b.start_session(traced=True)
    app_id = b.spark.sparkContext.applicationId
    q = queries()
    originals = {span: getattr(eq, fn_name) for span, fn_name in PLAN_SPANS.items()}
    for span, fn_name in PLAN_SPANS.items():
        setattr(eq, fn_name, capture(span, originals[span]))
    try:
        for _ in range(2):
            _, traced_s = b.span(
                "op",
                lambda: [checks.spark_digest(q[n](b.spark, b.in_dir)) for n in KG_QUERIES],
            )
    finally:
        for span, fn_name in PLAN_SPANS.items():
            setattr(eq, fn_name, originals[span])
    walls = {}
    for span, fn in originals.items():
        args, kwargs = captured[span]
        walls[span] = b.span(span, lambda: noop(fn(*args, **kwargs)))[1]
    layers.update(fold_layers(b, app_id, walls))
    layers["contexts.model.from_turtle.wall_s"] = from_turtle_s()
    layers["trace.self_cover_frac"] = sum(walls.values()) / untraced_s
    layers["trace.overhead_frac"] = traced_s / untraced_s - 1.0
    return layers
