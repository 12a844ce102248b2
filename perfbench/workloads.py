"""The benchmark's workloads: seeded input files, the graph built from them,
one timed repetition of public engine calls, and the checks on its outputs.

- ``supplier-louvain``: the sf0.1 supplier co-occurrence graph (thinned to
  every ``order_stride``-th order at check scale) and ``louvain()``. 1,000
  vertices: the Louvain state is tiny and every small side broadcasts, so a
  superstep costs mostly its fixed floor (driver plan build, job and task
  scheduling, materialize).
- ``planted-louvain``: ``louvain()`` on a planted-partition graph with 20
  times the vertex state, so the edge-row join and aggregate take a larger
  share of a level-0 superstep; at full scale its vertex state sits at the
  10 MB broadcast threshold.
- ``corpus-pipeline``: the ``tools/submit_job.py`` shape. The graph comes from
  a parquet code corpus (sha256 file table, co-change, co-path and pandas-UDF
  import edges); ``louvain()`` checkpoints every superstep and the labels and
  metrics are written as parquet. The only workload that writes.
- ``supplier-analytics``: six analytics calls on the supplier graph.

The first repetition of a Louvain workload is one ``louvain()`` call, whose
outputs get the full checks; every later, timed one is the public level-0
call ``louvain_level``. Below full scale both are capped by ``CAPS`` to three
level-0 supersteps (``louvain()`` to that level and its coarsening), so a
repetition is short, makes the same supersteps at every seed, and its labels
equal those of the checked ``louvain()`` call; at full scale ``louvain()`` is
the uncapped reference configuration. After the timed repetitions a traced
run makes one layer pass: one coarsening of the fine graph by the last
level-0 labels, level 1 on the coarse graph with a parquet checkpoint after
every superstep, and the six analytics calls, so a traced run of any
workload fills every layer row and the checkpoint counters. The analytics
calls run on the ``supplier-analytics`` graph of the same seed and scale.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import inputs

LOUVAIN_MIN_MOVES_FRAC = 0.02
KCORE_K, KCORE_ROUNDS = 3, 12
# (louvain() caps, louvain_level() caps) of the repetitions, by scale. Below
# full scale: level 0 capped at three supersteps, each of which moves well
# over 2 % of V, so the convergence slack never ends the level sooner.
CAPS = {
    "tiny": ({"max_levels": 1, "max_supersteps": 3}, {"max_supersteps": 3}),
    "check": ({"max_levels": 1, "max_supersteps": 3}, {"max_supersteps": 3}),
    "full": ({}, {}),
}
CHECKPOINT_SUPERSTEPS = 4  # cap of the layer pass's checkpointed level 1

SCALES = {
    "supplier-louvain": {"tiny": {"order_stride": 100}, "check": {"order_stride": 4},
                         "full": {"order_stride": 1}},
    "corpus-pipeline": {
        "tiny": {"n_repos": 4, "files_per_repo": 20, "commits_per_repo": 40,
                 "files_per_commit": 4},
        "check": {"n_repos": 8, "files_per_repo": 100, "commits_per_repo": 400,
                  "files_per_commit": 8},
        "full": {"n_repos": 32, "files_per_repo": 100, "commits_per_repo": 400,
                 "files_per_commit": 8},
    },
    "supplier-analytics": {"tiny": {"order_stride": 100}, "check": {"order_stride": 16},
                           "full": {"order_stride": 1}},
    "planted-louvain": {
        "tiny": {"n_blocks": 10, "block_size": 50, "n_edges": 5_000},
        "check": {"n_blocks": 100, "block_size": 200, "n_edges": 250_000},
        "full": {"n_blocks": 400, "block_size": 500, "n_edges": 3_000_000},
    },
}
WORKLOADS = tuple(SCALES)
LOUVAIN_WORKLOADS = ("supplier-louvain", "corpus-pipeline", "planted-louvain")
ANALYTICS = (
    "pagerank.pagerank",
    "components.components",
    "labelprop.label_propagation",
    "metrics.kcore",
    "triangles.triangles_per_vertex",
    "triangles.clustering_coefficients",
)


def make_inputs(workload: str, seed: int, scale: str) -> str:
    params = SCALES[workload][scale]
    if workload.startswith("supplier"):
        return inputs.supplier_edges(seed, **params)
    if workload == "corpus-pipeline":
        return inputs.corpus(seed, **params)
    return inputs.planted_edges(seed, **params)


def digest(df) -> int:
    """Order-independent digest of every value of every row,
    ``bit_xor(xxhash64(*columns))`` as in ``bench.py``. Doubles are rounded to
    9 places first, so the digest does not hang on the last bits of a sum."""
    from pyspark.sql import functions as F

    cols = [F.round(c, 9) if t == "double" else F.col(c) for c, t in df.dtypes]
    return int(df.agg(F.bit_xor(F.xxhash64(*cols))).first()[0] or 0)


class Graph:
    """The workload's graph, and for the corpus its file table (which the
    sha256 check reads)."""

    def __init__(self, workload: str, spark, path: str):
        self.workload = workload
        self.spark = spark
        self.path = path
        self.graph = None
        self.files = None

    def build(self, tracer, span: str = "graph.from_edges") -> None:
        """Build the graph from the input file, dropping any earlier one's
        caches; ``span`` names the span around ``LinkGraph.from_edges``."""
        from graftlouvain.operators.graph import LinkGraph

        self.release()
        spark = self.spark
        if self.workload == "corpus-pipeline":
            from graftlouvain.sources.corpus import read_corpus
            from graftlouvain.sources.edges import combined_edges, file_table

            corpus = read_corpus(spark, self.path, fmt="parquet")
            self.files = file_table(corpus).cache()
            raw = combined_edges(corpus, self.files)
        else:
            raw = spark.read.parquet(self.path)
        with tracer.span(span):
            self.graph = LinkGraph.from_edges(raw)

    def release(self) -> None:
        if self.graph is not None:
            self.graph.unpersist()
            self.graph = None
        if self.files is not None:
            self.files.unpersist()
            self.files = None


def _analytics_calls(graph):
    from graftlouvain.operators.components import components
    from graftlouvain.operators.labelprop import label_propagation
    from graftlouvain.operators.metrics import kcore
    from graftlouvain.operators.pagerank import pagerank
    from graftlouvain.operators.triangles import (
        clustering_coefficients,
        triangles_per_vertex,
    )

    return dict(zip(ANALYTICS, (
        lambda: pagerank(graph, n_iter=10),
        lambda: components(graph),
        lambda: label_propagation(graph, max_iter=5),
        lambda: kcore(graph, KCORE_K, rounds=KCORE_ROUNDS),
        lambda: triangles_per_vertex(graph),
        lambda: clustering_coefficients(graph),
    )))


def run_pass(g: Graph, tracer, workdir: Path, scale: str, first: bool) -> dict:
    """One repetition of the workload's calls on its graph: ``louvain()``
    when ``first``, else ``louvain_level``, for a Louvain workload; the six
    analytics calls for ``supplier-analytics``. Returns the wall time of each
    call (keyed by layer name), the Louvain result or the level-0 labels and
    stats, and the digest of every call's output."""
    from graftlouvain.operators.louvain import louvain, louvain_level
    from graftlouvain.sources.checkpoint import CheckpointManager

    out: dict = {"digests": {}}
    graph = g.graph
    louvain_caps, level_caps = CAPS[scale]

    if g.workload in LOUVAIN_WORKLOADS and first:
        checkpointer = None
        if g.workload == "corpus-pipeline":
            ck_dir = workdir / "checkpoint"
            shutil.rmtree(ck_dir, ignore_errors=True)
            checkpointer = CheckpointManager(str(ck_dir))
        with tracer.span("louvain.louvain") as s:
            res = louvain(graph, min_moves_frac=LOUVAIN_MIN_MOVES_FRAC,
                          checkpointer=checkpointer, **louvain_caps)
        out["louvain.louvain"] = s["end"] - s["start"]
        if g.workload == "corpus-pipeline":
            with tracer.span("pipeline.write_outputs") as s:
                res.assignments.write.mode("overwrite").parquet(str(workdir / "output/labels"))
                res.metrics(g.spark).write.mode("overwrite").parquet(
                    str(workdir / "output/metrics"))
            out["pipeline.write_outputs"] = s["end"] - s["start"]
        out["result"] = res
        out["digests"]["louvain.louvain"] = digest(res.assignments)
    elif g.workload in LOUVAIN_WORKLOADS:
        with tracer.span("louvain.louvain_level") as s:
            out["labels"], out["level"] = louvain_level(
                graph, min_moves_frac=LOUVAIN_MIN_MOVES_FRAC, **level_caps)
        out["louvain.louvain_level"] = s["end"] - s["start"]
        out["digests"]["louvain.louvain_level"] = digest(out["labels"])

    if g.workload == "supplier-analytics":
        _analytics(graph, tracer, out)
    return out


def _analytics(graph, tracer, out: dict) -> None:
    for layer, call in _analytics_calls(graph).items():
        with tracer.span(layer) as s:
            # the digest forces every value of the result: it is the work
            out["digests"][layer] = digest(call())
        out[layer] = s["end"] - s["start"]


def layer_pass(g: Graph, tracer, workdir: Path, labels, seed: int, scale: str) -> dict:
    """The traced run's extra calls, made once after its repetitions: one
    coarsening of the fine graph by the level-0 ``labels`` of the last
    repetition (``None`` for ``supplier-analytics``, which makes level 0
    here), level 1 on the coarse graph with a parquet checkpoint after every
    superstep, and the six analytics calls on the ``supplier-analytics``
    graph of the same seed and scale, unless the repetitions made them.
    Returns the checkpoint directory with the checkpointed call's wall, and
    the digests of the analytics calls."""
    from graftlouvain.operators.louvain import coarsen, louvain_level
    from graftlouvain.sources.checkpoint import CheckpointManager

    out: dict = {"digests": {}}
    graph = g.graph
    if labels is None:
        with tracer.span("louvain.louvain_level"):
            labels, out["level"] = louvain_level(graph, min_moves_frac=LOUVAIN_MIN_MOVES_FRAC,
                                                 **CAPS[scale][1])
    with tracer.span("louvain.coarsen"):
        coarse = coarsen(graph, labels)
    ck_dir = workdir / "checkpoint-level1"
    shutil.rmtree(ck_dir, ignore_errors=True)
    with tracer.span("checkpoint.louvain_level") as s:
        asg1, _ = louvain_level(coarse, level=1, min_moves_frac=LOUVAIN_MIN_MOVES_FRAC,
                                max_supersteps=CHECKPOINT_SUPERSTEPS,
                                checkpointer=CheckpointManager(str(ck_dir)))
    out["checkpoint"] = (ck_dir, s["end"] - s["start"])
    for df in (labels, asg1):
        df.unpersist()
    coarse.unpersist()
    if g.workload != "supplier-analytics":
        # The supplier graph of the analytics workload: on the sf0.1 graph
        # triangle counting alone takes about 40 s here.
        ag = Graph("supplier-analytics", g.spark,
                   make_inputs("supplier-analytics", seed, scale))
        ag.build(tracer, span="setup.analytics_graph")
        _analytics(ag.graph, tracer, out)
        ag.release()
    return out


def check_pass(g: Graph, out: dict) -> list[tuple[str, str]]:
    """Seed-independent checks on one pass's outputs; returns (call, reason)
    for each failure."""
    from pyspark.sql import functions as F

    from graftlouvain.operators.louvain import modularity

    failures = []
    graph = g.graph
    res = out.get("result")
    if res is not None:
        q = modularity(graph, res.assignments)
        if abs(q - res.modularity) > 1e-9:
            failures.append(("louvain.louvain",
                             f"modularity() gives {q!r}, the result says {res.modularity!r}"))
        labels = res.assignments.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        row = graph.vertices.withColumn("v", F.lit(1)).join(labels, "id", "full_outer").agg(
            F.count(F.when(F.col("n").isNull(), 1)).alias("unlabelled"),
            F.count(F.when(F.col("n") > 1, 1)).alias("relabelled"),
            F.count(F.when(F.col("v").isNull(), 1)).alias("foreign"),
        ).first()
        if row["unlabelled"] or row["relabelled"] or row["foreign"]:
            failures.append(("louvain.louvain", (
                f"{row['unlabelled']} vertices unlabelled, {row['relabelled']} labelled "
                f"more than once, {row['foreign']} labels for ids not in the graph")))
    if g.files is not None:
        bad = g.files.where(F.sha2(F.col("content"), 256) != F.col("content_sha")).count()
        if bad:
            failures.append(("graph.from_edges",
                             f"{bad} files with sha2(content, 256) != content_sha"))
    return failures
