"""Benchmark of the KG-construction engine: closed-loop workloads on local[4].

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 8 --trace 0

One driver process runs one workload. It makes the seeded inputs (outside all
timing), starts a SparkSession, runs a fixed number of warm-up passes, then
runs passes back to back for ``--seconds`` seconds. Each operation of a
pass is one action that reads every output column: a row count plus an
order-insensitive sum of ``xxhash64`` over all columns (floating columns
rounded to 6 decimals). That fingerprint is the correctness check: every pass
must reproduce it, and at the default seed it must equal the pinned value.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns the Spark
UI on and prints the per-layer metrics of perfbench/spans.py instead.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Workloads (BENCHMARK.json gives the reasons):
- ``kg_build``: the lazy flagship DAG (plans.pipeline.flagship) over a
  250-document sample of the CDR-shaped fixture corpus.
- ``kg_query``: registry leaves over the same corpus's entity-pair graph and
  over the KG lifted from seeded TPC-H-shaped tables.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / ".work"
MASTER = "local[4]"
SHUFFLE_PARTITIONS = "8"  # bench.py's max(8, 2 x cores) at 4 cores
DRIVER_MEM = "3g"
DEFAULT_SEED = 1

# Passes get faster for many passes after the cold first one (JIT), longer
# than a run can afford to wait. A fixed warm-up puts every run's timed
# passes at the same point of that curve; a stopping rule that ended the
# warm-up after 3 or after 5 passes moved kg_query's median by 8 %. Only the
# cold pass is warm-up: a run pays about 10 s of session start and 20-30 s
# for the cold pass, and each further pass costs a whole pass of the run's
# time budget.
WARM_PASSES = 1
# The timed passes run for --seconds and at least this many, so the median
# never rests on one or two passes that a host hiccup can move.
MIN_TIMED = 3

# kg_query's leaves and the module whose operator each one runs. q56 reads
# the fixture entity-pair graph (through the memoized mention stage) and
# q146 the string-keyed lifted KG. The traced run also traces q138, which
# reads the integer-coded lifted KG (the control for a change to the string
# form), and q294, the kglifecycle sameAs rewrite over the string form. A
# pass of all four would not fit the run-time budget.
LEAVES = [
    ("q56_pagerank", "graphalgo"),
    ("q146_kg_constraints", "kgquality"),
]
TRACED_LEAVES = LEAVES + [("q138_rule_mining", "graphalgo"), ("q294_sameas_rewrite", "kglifecycle")]

WORKLOADS = ("kg_build", "kg_query")

# (rows, xxhash64 sum) of every operation at the default seed. Both
# workloads read the same inputs, and a traced run checks every operation.
PINNED: dict[str, tuple[int, int]] = {
    "flagship": (935, 26018070874730114849),
    "q56_pagerank": (365, 156736110859293034012),
    "q146_kg_constraints": (14, -31134544712204169602),
    "q138_rule_mining": (4, -13727683593454938125),
    "q294_sameas_rewrite": (205004, -1052815979466109482443),
}

STAGES = [
    "bpe.words", "bpe.tokens", "mentions.detect", "linking.link",
    "scorer.score", "pooling.pool", "linking.canon", "pooling.dedup",
    "tableio.write", "tableio.read", "evaluate.confusion",
]
PY_STAGES = ["bpe.words", "bpe.tokens", "scorer.score"]


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    out: dict[str, str] = {}
    for s in STAGES:
        out.update({f"{s}_s": "s", f"{s}.rows_out": "count", f"{s}.shuffle_mb": "MB"})
    for s in PY_STAGES:
        out.update({f"{s}.py_sent_mb": "MB", f"{s}.py_recv_mb": "MB", f"{s}.py_s": "s"})
    out.update({
        "linking.linked_ratio": "ratio", "pooling.kept_ratio": "ratio",
        "plans.build_s": "s", "plans.plan_chars": "count",
        "mentions.fixture_stage_s": "s",
    })
    for leaf, module in TRACED_LEAVES:
        key = f"{module}.{leaf.split('_')[0]}"
        out.update({
            f"{key}.wall_s": "s", f"{key}.build_s": "s", f"{key}.jobs": "count",
            f"{key}.shuffle_mb": "MB", f"{key}.plan_chars": "count",
        })
    out.update({"trace.overhead_s": "s", "jvm.peak_rss_mb": "MB"})
    return out


# ---- measurement helpers ---------------------------------------------------

def process_tree(root: int) -> dict[int, int]:
    """{pid: CPU ticks} for process ``root`` and all its descendants.

    The ticks are user+system time of the process plus that of the children
    it has already reaped, so a Python worker that exited still counts once
    its parent has waited for it."""
    parent: dict[int, int] = {}
    used: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        used[pid] = sum(int(x) for x in fields[11:15])
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = used.get(pid, 0)
        todo.extend(p for p, pp in parent.items() if pp == pid)
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and all its descendants."""
    return sum(process_tree(root).values()) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until no child process is left.

    The JVM that pyspark launched exits when its standard input closes, and
    takes the Python daemon and workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while len(process_tree(os.getpid())) > 1:
        if time.monotonic() > deadline:
            raise RuntimeError("Spark child processes did not exit")
        time.sleep(0.1)


def fingerprint(df) -> tuple[int, int]:
    """(row count, order-insensitive xxhash64 sum over all columns)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def canon(f):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            # + 0.0 folds -0.0 into 0.0 so both hash alike
            return F.round(c, 6) + F.lit(0.0)
        return c

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[canon(f) for f in df.schema.fields]).cast("decimal(38,0)")).alias("h"),
    ).head()
    return int(row["n"]), int(row["h"] or 0)


def plan_chars(df) -> int:
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def materialize(df):
    """Compute every column of ``df`` once and keep the result."""
    return df.localCheckpoint(eager=True)


@dataclass
class Pass:
    wall: float
    cpu: float
    walls: dict[str, float]


@dataclass
class Checker:
    """Counts operations and the ones that failed or disagreed."""

    pinned: dict[str, tuple[int, int]]
    seen: dict[str, tuple[int, int]] = field(default_factory=dict)
    got: dict[str, tuple[int, int] | None] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def check(self, name: str, fp: tuple[int, int] | None, want=None) -> None:
        """Count one operation; it fails on an exception (``fp`` None) or a
        fingerprint other than ``want``, else than the pinned value, else
        than the first one seen."""
        self.attempted += 1
        self.got[name] = fp
        if want is None:
            want = self.seen.setdefault(name, self.pinned.get(name, fp))
        if fp is None or fp != want:
            self.failed += 1
            print(f"perfbench: {name} fingerprint {fp}, expected {want}", file=sys.stderr)


def run_pass(ops, checker: Checker) -> Pass:
    walls, prints = {}, {}
    cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
    for name, build in ops:
        t = time.perf_counter()
        try:
            prints[name] = fingerprint(build())
        except Exception:  # an operation that raises counts as failed; go on
            traceback.print_exc(file=sys.stderr)
            prints[name] = None
        walls[name] = time.perf_counter() - t
    p = Pass(time.perf_counter() - t0, tree_cpu_s(os.getpid()) - cpu0, walls)
    for name, fp in prints.items():
        checker.check(name, fp)
    return p


def warm_up(ops, checker: Checker) -> list[Pass]:
    return [run_pass(ops, checker) for _ in range(WARM_PASSES)]


# ---- workloads ---------------------------------------------------------------

@dataclass
class Inputs:
    fixture_dir: str
    rel_dir: str
    ckpt: str


def workload_ops(spark, name: str, inp: Inputs):
    if name == "kg_build":
        from bran_spark.plans.pipeline import flagship

        return [("flagship", lambda: flagship(spark, inp.fixture_dir, checkpoint_root=inp.ckpt))]
    from bran_spark.plans.oracle_queries import QUERIES

    return [(leaf, lambda leaf=leaf: QUERIES[leaf](spark, inp.rel_dir)) for leaf, _ in LEAVES]


def make_inputs(run_dir: Path, seed: int) -> Inputs:
    import inputs

    base = inputs.base_corpus(str(WORK))
    fixture_dir = os.path.join(os.environ["BRAN_SPARK_FIXTURES"], f"sf{inputs.SAMPLE_SF}")
    inputs.sample_corpus(base, fixture_dir, seed)
    # the registry derives its fixture scale from this directory's name
    rel_dir = str(run_dir / "rel" / f"sf{inputs.SAMPLE_SF}")
    inputs.relational_tables(rel_dir, seed)
    return Inputs(fixture_dir, rel_dir, str(run_dir / "ckpt"))


# ---- traced run ----------------------------------------------------------------

def trace_flagship(spark, tr, inp: Inputs, checker: Checker) -> None:
    """The flagship's stages one at a time, each input materialized first.

    Composes the stages as Pipeline does without checkpoints, then commits,
    reads back and evaluates the triples as the checkpointed run does. The
    triples must match the flagship's own fingerprint."""
    from pyspark.sql import functions as F

    from bran_spark.functions.bpe import full_text_col, with_token_arrays, with_words
    from bran_spark.model.scorer import score_documents
    from bran_spark.operators.evaluate import confusion
    from bran_spark.operators.linking import canonical_triples, link_mentions
    from bran_spark.operators.mentions import detect_mentions
    from bran_spark.operators.pooling import dedup_triples, lse_pool, threshold, to_triples
    from bran_spark.plans.pipeline import Pipeline, PipelineConfig, flagship
    from bran_spark.sources.tableio import ManifestParquetTableIO

    m = tr.metrics
    t = time.perf_counter()
    df = flagship(spark, inp.fixture_dir, checkpoint_root=inp.ckpt)
    m["plans.build_s"] = time.perf_counter() - t
    m["plans.plan_chars"] = plan_chars(df)

    def stage(name, build):
        out = tr.span(name, lambda: materialize(build()))
        m[f"{name}.rows_out"] = out.count()
        return out

    # the Pipeline's own input and score-input helpers keep the partitioning
    # and the join the flagship uses
    cfg = PipelineConfig(fixture_dir=inp.fixture_dir, checkpoint_root=inp.ckpt, checkpoint=False)
    p = Pipeline(spark, cfg)
    par = spark.sparkContext.defaultParallelism
    mesh = materialize(p.mesh_dict())
    docs = materialize(p._even_repartition(p.documents()).withColumn("full_text", full_text_col("spans")))
    words = stage("bpe.words", lambda: with_words(docs))
    stage("bpe.tokens", lambda: with_token_arrays(docs, p.codec_bc(), max_tokens=cfg.max_tokens))
    mentions = stage("mentions.detect", lambda: detect_mentions(words, mesh))
    linked = stage("linking.link", lambda: link_mentions(mentions, mesh)[0])
    m["linking.linked_ratio"] = m["linking.link.rows_out"] / max(1, m["mentions.detect.rows_out"])
    score_in = materialize(p._score_input(linked, resume=False).repartition(par * 4))
    scores = stage("scorer.score", lambda: score_documents(score_in, p.weights_bc(), emit=cfg.emit))
    raw = stage(
        "pooling.pool",
        lambda: to_triples(threshold(lse_pool(scores, ["doc_id", "chem_mesh", "dis_mesh"], "score"), cfg.theta)),
    )
    triples = stage("linking.canon", lambda: canonical_triples(raw, mesh))
    m["pooling.kept_ratio"] = m["linking.canon.rows_out"] / max(1, m["scorer.score.rows_out"])
    checker.check("flagship", fingerprint(triples))
    stage("pooling.dedup", lambda: dedup_triples(triples, cfg.salt_buckets))

    io = ManifestParquetTableIO(inp.ckpt)
    tr.span("tableio.write", lambda: io.write(triples, "triples", stage="trace", partition_by=["pred"]))
    m["tableio.write.rows_out"] = io.manifest("triples")["rows"]
    back = stage("tableio.read", lambda: io.read(spark, "triples"))
    checker.check("tableio.roundtrip", fingerprint(back.select(*triples.columns)), fingerprint(triples))
    gold = spark.read.parquet(os.path.join(inp.fixture_dir, "gold_relations.parquet"))
    pred = triples.select(F.col("subj").alias("chem_mesh"), F.col("obj").alias("dis_mesh"), "doc_id")
    stage("evaluate.confusion", lambda: confusion(pred, gold.select("doc_id", "chem_mesh", "dis_mesh")))


def trace_leaves(spark, tr, inp: Inputs, checker: Checker, leaves) -> None:
    from bran_spark.plans.oracle_queries import QUERIES

    for leaf, module in leaves:
        key = f"{module}.{leaf.split('_')[0]}"
        built = {}

        def go(leaf=leaf):
            t = time.perf_counter()
            built["df"] = QUERIES[leaf](spark, inp.rel_dir)
            tr.metrics[f"{key}.build_s"] = time.perf_counter() - t
            return fingerprint(built["df"])

        checker.check(leaf, tr.span(key, go, wall_key=f"{key}.wall_s"))
        tr.metrics[f"{key}.plan_chars"] = plan_chars(built["df"])


def traced_run(spark, name: str, inp: Inputs, checker: Checker) -> dict[str, float]:
    """Per-layer metrics. Every layer is traced on every workload; the
    workload's own pass, run untraced and then with a span per operation,
    gives the tracing overhead."""
    from spans import Tracer

    from bran_spark.plans.pipeline import Pipeline, PipelineConfig

    ops = workload_ops(spark, name, inp)
    warm_up(ops, checker)
    untraced = run_pass(ops, checker)
    tr = Tracer(spark)
    t = time.perf_counter()
    if name == "kg_query":
        trace_leaves(spark, tr, inp, checker, LEAVES)
    else:
        for op, build in ops:
            checker.check(op, tr.span(f"workload.{op}", lambda build=build: fingerprint(build())))
    tr.metrics["trace.overhead_s"] = time.perf_counter() - t - untraced.wall
    traced = LEAVES if name == "kg_query" else []
    trace_leaves(spark, tr, inp, checker, [x for x in TRACED_LEAVES if x not in traced])
    cfg = PipelineConfig(fixture_dir=inp.fixture_dir, checkpoint_root=inp.ckpt, checkpoint=False)
    tr.span(
        "mentions.fixture_stage",
        lambda: materialize(Pipeline(spark, cfg).stage_mentions(resume=False)),
    )
    trace_flagship(spark, tr, inp, checker)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm = next(line for line in f if line.startswith("VmHWM:"))
    tr.metrics["jvm.peak_rss_mb"] = int(hwm.split()[1]) / 1024
    print(json.dumps({"spans": tr.metrics}, sort_keys=True), file=sys.stderr)
    return tr.metrics


# ---- driver ----------------------------------------------------------------------

def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks by state, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_ms() -> float:
    """Milliseconds one fixed single-threaded loop takes: how fast the host
    runs right now, so a slow window can be told apart from a slow program."""
    t = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return (time.perf_counter() - t) * 1e3


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def timed_run(spark, name: str, inp: Inputs, seconds: float, checker: Checker, t_setup: float):
    ops = workload_ops(spark, name, inp)
    session_s = time.perf_counter() - t_setup
    warm = warm_up(ops, checker)
    host = [host_ms()]
    timed, end, ticks0 = [], time.perf_counter() + seconds, cpu_ticks()
    while len(timed) < MIN_TIMED or time.perf_counter() < end:
        timed.append(run_pass(ops, checker))
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    host.append(host_ms())
    pass_s = statistics.median(p.wall for p in timed)
    # set-up is what the run spent beyond steady work before it was steady:
    # session start plus each warm-up pass's excess over a steady pass, so
    # it does not depend on how many passes the warm-up took
    setup_s = session_s + sum(p.wall - pass_s for p in warm)
    per_op = [statistics.median(p.walls[op] for p in timed) for op, _ in ops]
    print(
        f"perfbench {name}: warm-up passes {[round(p.wall, 2) for p in warm]} s; "
        f"{len(timed)} timed passes {[round(p.wall, 2) for p in timed]} s, "
        f"cpu {[round(p.cpu, 2) for p in timed]} s; per-operation medians "
        f"{ {op: round(w, 2) for (op, _), w in zip(ops, per_op)} } s; while timed, the host's CPUs were "
        f"{ticks[3] / sum(ticks):.1%} idle and {ticks[7] / sum(ticks):.1%} stolen; "
        f"host loop before/after {host[0]:.0f}/{host[1]:.0f} ms"
    )
    return {
        "pass_s": pass_s,
        "cpu_s": statistics.median(p.cpu for p in timed),
        "setup_s": setup_s,
        "leaf_geomean_s": geomean(per_op),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("bran_spark") is None:
        print(f"perfbench: the bran_spark package is not under {ROOT}", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    # set before bran_spark is imported: the fixture root is read at import,
    # and Python workers find the package only through PYTHONPATH
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "BRAN_SPARK_FIXTURES": str(run_dir / "fixtures"),
        "BRAN_SPARK_LOCAL_DIR": str(run_dir / "local"),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),  # overrides spark.local.dir
        "BRAN_SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": str(tmp),
    })
    spark = None
    try:
        inp = make_inputs(run_dir, args.seed)
        from bran_spark.session import get_spark

        t_setup = time.perf_counter()
        spark = get_spark(
            "perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.ui.enabled": "true" if args.trace else "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        checker = Checker(dict(PINNED) if args.seed == DEFAULT_SEED else {})
        if args.trace:
            values = traced_run(spark, args.workload, inp, checker)
            units = layer_metrics()
        else:
            values = timed_run(spark, args.workload, inp, args.seconds, checker, t_setup)
            units = {"pass_s": "s", "cpu_s": "s", "setup_s": "s", "leaf_geomean_s": "s"}
        for op, fp in sorted(checker.got.items()):
            print(f"perfbench fingerprint {args.workload} seed={args.seed} {op}: {fp}")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": checker.failed == 0,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
