"""graftlouvain benchmark: one workload per run, in one process, on local[4].

    python3 perfbench/run.py --workload supplier-louvain --seed 42 --seconds 5 --trace 0

Run it from the root of a checkout. It makes the workload's seeded inputs
(untimed), starts a Spark session and builds the workload's graph
``BUILDS`` times (set-up), makes one untimed repetition of the workload's
public engine calls and checks its outputs, makes one more untimed
repetition, then times repetitions until ``--seconds`` have passed and at
least ``MIN_REPS`` were made, checks that each gives the same outputs, and
prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The line before it holds
the run's details: host noise, every repetition's wall and the digests.

``--trace 0`` reports the end-to-end metrics with Spark's event log off (the
``get_spark`` defaults). ``--trace 1`` turns the event log on, sets a Spark
job group around every public call, makes one more pass over the layers the
repetitions do not call, and reports the per-layer table instead. Spans and
details are written under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import host  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

CORES = 4
PINS = HERE / "pins.json"

BUILDS = 3  # graph builds in set-up; setup_s takes their median
WARMUP_REPS = 2  # untimed repetitions: the checked first one and one more
MIN_REPS = 2  # timed repetitions go on past --seconds until there are this many
LOUVAIN_UNITS = {"setup_s": "s", "superstep_edges_per_s": "edges/s"}
ANALYTICS_UNITS = {"setup_s": "s", "fixpoint_s": "s", "triangles_s": "s", "clustering_s": "s"}
FIXPOINT_LAYERS = ("pagerank.pagerank", "components.components",
                   "labelprop.label_propagation", "metrics.kcore")
COUNTER_UNITS = {
    "louvain.jobs_per_superstep": "count",
    "louvain.superstep_ms_p50": "ms",
    "louvain.move_yield": "ratio",
    "checkpoint.writes": "count",
    "checkpoint.bytes": "bytes",
    "checkpoint.persist_s": "s",
    "checkpoint.share": "ratio",
    "session.get_spark.wall_s": "s",
    "host.steal_frac": "ratio",
    "host.exec_cpu_util": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """The per-layer metrics of the result line. ``gc_s`` stays on the detail
    line only: most layers spend no task GC time, and a time that is 0.0 on
    every run cannot be told from a value that was never measured."""
    units = {f"{layer}.{col}": unit for layer in tracing.LAYERS
             for col, unit in tracing.COLUMNS if col != "gc_s"}
    units.update(COUNTER_UNITS)
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=inputs.DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("tiny", "check", "full"), default="check",
                    help="input size: check (the default, sized for repeated runs), "
                         "full (the reference sizes), tiny (self-test)")
    ap.add_argument("--pins", default=str(PINS),
                    help="JSON of results pinned at the default seed")
    return ap.parse_args(argv)


def _isolate(work: Path) -> None:
    """Point Spark's scratch space, Python's and the JVM's temp files into
    ``work`` so a run writes only inside the checkout."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(setup_s: float, builds: list[float], first: dict, reps: list[dict],
               num_edges: int, rss_mb: float) -> dict[str, float]:
    """The run's figures. A timed figure is the median over the timed
    repetitions; the figures of the first, checked repetition (``check_*``,
    ``pipeline_s``) come from one cold call and go to the detail line only,
    as do the other figures that are not end-to-end metrics."""
    e2e = {"setup_s": setup_s, "graph_build_s": _median(builds),
           "cold_build_s": builds[0], "peak_rss_mb": rss_mb}
    if "level" in reps[0]:
        steps = [r["level"].supersteps for r in reps]
        walls = [r["louvain.louvain_level"] for r in reps]
        e2e["superstep_edges_per_s"] = _median(
            [num_edges * n / w for n, w in zip(steps, walls)])
        e2e["superstep_ms"] = _median([1000.0 * w / n for n, w in zip(steps, walls)])
        e2e["level_s"] = _median(walls)
    if "result" in first:
        e2e["check_louvain_s"] = first["louvain.louvain"]
        e2e["check_supersteps"] = sum(l.supersteps for l in first["result"].levels)
    if "pipeline.write_outputs" in first:
        e2e["pipeline_s"] = first["louvain.louvain"] + first["pipeline.write_outputs"]
    if workloads.ANALYTICS[0] in reps[0]:
        e2e["fixpoint_s"] = _median([sum(r[l] for l in FIXPOINT_LAYERS) for r in reps])
        e2e["triangles_s"] = _median([r["triangles.triangles_per_vertex"] for r in reps])
        e2e["clustering_s"] = _median(
            [r["triangles.clustering_coefficients"] for r in reps])
    return e2e


def louvain_counters(lvl0, table: dict, num_vertices: int) -> dict[str, float]:
    """Counters of the last level-0 call (its ``LevelStats``) and of the
    level-0 calls' jobs."""
    return {
        "louvain.jobs_per_superstep": table["louvain.louvain_level"]["jobs"]
        / max(lvl0.supersteps, 1),
        "louvain.superstep_ms_p50": _median(lvl0.wall_ms),
        "louvain.move_yield": sum(lvl0.moves) / max(num_vertices * lvl0.supersteps, 1),
    }


def checkpoint_counters(ck_dir: Path, wall_s: float) -> dict[str, float]:
    """Writes, bytes and persist time of the checkpointed call, read from its
    manifest and its directory."""
    with open(ck_dir / "manifest.jsonl") as f:
        records = [json.loads(line) for line in f]
    persist_s = sum(r.get("persist_wall_ms", 0) for r in records) / 1000.0
    return {
        "checkpoint.writes": len(records),
        "checkpoint.bytes": sum(f.stat().st_size for f in ck_dir.rglob("*") if f.is_file()),
        "checkpoint.persist_s": persist_s,
        "checkpoint.share": persist_s / wall_s,
    }


def check_pins(pins: dict | None, reps: list[tuple[int, dict]]) -> list[tuple[int, str, str]]:
    """Compare every (index, repetition) with the results pinned for the
    default seed (a repetition checks the digests of the calls it made)."""
    if not pins:
        return []
    bad = []
    for i, p in reps:
        res = p.get("result")
        if res is not None:
            steps = sum(l.supersteps for l in res.levels)
            if steps != pins["supersteps"]:
                bad.append((i, "louvain.louvain", f"{steps} supersteps, pinned {pins['supersteps']}"))
            if round(res.modularity, 6) != pins["modularity"]:
                bad.append((i, "louvain.louvain", f"Q {res.modularity!r}, pinned {pins['modularity']}"))
        for op, pinned in pins["digests"].items():
            if op in p["digests"] and p["digests"][op] != pinned:
                bad.append((i, op, f"digest {p['digests'][op]}, pinned {pinned}"))
    return bad


def _release(rep: dict) -> None:
    """Drop the cached outputs of a repetition once they are checked."""
    if "result" in rep:
        rep["result"].assignments.unpersist()
    if "labels" in rep:
        rep.pop("labels").unpersist()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "graftlouvain" / "__init__.py").is_file():
        print(f"error: {root} is not a graftlouvain checkout (no graftlouvain/ package)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    traced = bool(args.trace)
    run_id = f"{args.workload}-{args.scale}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = HERE / ".work" / run_id
    _isolate(work)
    pins = layer_pins = None
    if args.seed == inputs.DEFAULT_SEED:
        with open(args.pins) as f:
            all_pins = json.load(f)
        pins = all_pins.get(args.workload, {}).get(args.scale)
        layer_pins = all_pins.get("supplier-analytics", {}).get(args.scale)
        if pins is None:
            print(f"note: no pinned results for {args.workload}/{args.scale}", file=sys.stderr)

    path = workloads.make_inputs(args.workload, args.seed, args.scale)

    from graftlouvain.session import get_spark

    tracer = tracing.Tracer()
    extra_conf = None
    if traced:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t_start = tracer.now()
    with tracer.span("session.get_spark") as session:
        spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{CORES}]",
                          shuffle_partitions=CORES, extra_conf=extra_conf)
    if traced:
        tracer.sc = spark.sparkContext
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    session_s = session["end"] - session["start"]
    g = workloads.Graph(args.workload, spark, path)
    builds = []
    for _ in range(BUILDS):  # each build drops the previous graph's caches
        with tracer.span("setup.graph_build") as build:
            g.build(tracer)
        builds.append(build["end"] - build["start"])
    setup_s = session_s + _median(builds)

    failed: list[tuple[int, str, str]] = []  # (repetition, operation, reason)
    attempted = 0
    digests: dict[str, int] = {}
    walls: list[dict[str, float]] = []  # every repetition's call walls

    def repetition(i: int) -> dict | None:
        nonlocal attempted
        with tracer.span("repetition") as rep_span:
            try:
                out = workloads.run_pass(g, tracer, work, args.scale, first=i == 0)
            except Exception as e:  # an engine call raised: count it, stop
                out, error = None, repr(e)
        calls = [s["name"] for s in tracer.spans if s["parent"] == rep_span["id"]]
        attempted += len(calls)
        if out is None:
            failed.append((i, calls[-1] if calls else "repetition", error))
            return None
        for op, d in out["digests"].items():
            seen = digests.setdefault(op, d)
            if d != seen:
                failed.append((i, op, f"digest {d} differs from the first repetition's {seen}"))
        walls.append({k: v for k, v in out.items() if isinstance(v, float)})
        return out

    # The first repetition is the one whose outputs get the full checks; the
    # later ones must give the same digests. The first WARMUP_REPS are
    # untimed: they run on a cold JVM, whose JIT and code-generation warm-up
    # makes a level-0 call take twice as long as a few calls later. When
    # louvain() stops after level 0, its labels are the level-0 labels, so
    # the two calls' digests must agree too.
    window = host.HostWindow(jvm_pid)
    reps: list[dict] = []
    first = repetition(0)
    if first is not None:
        try:
            failed += [(0, op, why) for op, why in workloads.check_pass(g, first)]
        except Exception as e:  # a check that cannot run counts as failing
            failed.append((0, "checks", repr(e)))
        _release(first)
        out = first
        for i in range(1, WARMUP_REPS):
            out = repetition(i)
            if out is None:
                break
            _release(out)
        deadline = time.monotonic() + args.seconds
        while out is not None:
            out = repetition(WARMUP_REPS + len(reps))
            if out is not None:
                reps.append(out)
                if len(reps) >= MIN_REPS and time.monotonic() >= deadline:
                    break
                _release(out)
        one_level = workloads.CAPS[args.scale][0].get("max_levels") == 1
        if one_level and {"louvain.louvain", "louvain.louvain_level"} <= digests.keys():
            if digests["louvain.louvain"] != digests["louvain.louvain_level"]:
                failed.append((1, "louvain.louvain_level", (
                    f"digest {digests['louvain.louvain_level']} differs from louvain()'s "
                    f"{digests['louvain.louvain']}")))
    failed += check_pins(pins, ([(0, first)] if first else [])
                         + [(WARMUP_REPS + k, r) for k, r in enumerate(reps)])

    layers = None
    if traced and reps:
        with tracer.span("layer_pass"):
            try:
                layers = workloads.layer_pass(g, tracer, work, reps[-1].get("labels"),
                                              args.seed, args.scale)
            except Exception as e:
                failed.append((-1, "layer_pass", repr(e)))
        if layers is not None and layer_pins:
            for op, d in layers["digests"].items():
                if op in layer_pins["digests"] and d != layer_pins["digests"][op]:
                    failed.append((-1, op, f"digest {d}, pinned {layer_pins['digests'][op]}"))
    if reps:
        _release(reps[-1])
    host_info = window.close(CORES)
    rss_mb = host.vm_hwm_mb(os.getpid()) + host.vm_hwm_mb(jvm_pid)
    num_vertices = g.graph.stats.num_vertices if g.graph is not None else 0
    num_edges = g.graph.stats.num_directed_edges if g.graph is not None else 0
    app_id = spark.sparkContext.applicationId
    _stop(spark)

    metrics: dict[str, float] = {}
    e2e = end_to_end(setup_s, builds, first, reps, num_edges, rss_mb) if reps else {}
    e2e["session_s"] = session_s
    if traced and layers is not None:
        log = tracing.read_event_log(work / "eventlog" / app_id)
        table = tracing.layer_table(log, tracer.spans)
        for layer, row in table.items():
            for col, v in row.items():
                metrics[f"{layer}.{col}"] = v
        e2e["layers"] = table
        lvl0 = layers["level"] if "level" in layers else reps[-1]["level"]
        metrics.update(louvain_counters(lvl0, table, num_vertices))
        metrics.update(checkpoint_counters(*layers["checkpoint"]))
        metrics["session.get_spark.wall_s"] = session_s
        metrics["host.steal_frac"] = host_info["steal_frac"]
        metrics["host.exec_cpu_util"] = tracing.exec_cpu_total(log) / (
            (tracer.now() - t_start) * CORES)
    if traced:
        units = per_layer_units()
    else:
        metrics = e2e
        units = (LOUVAIN_UNITS if args.workload in workloads.LOUVAIN_WORKLOADS
                 else ANALYTICS_UNITS)
    missing = [name for name in units
               if not isinstance(metrics.get(name), (int, float)) or metrics[name] != metrics[name]]
    if missing:  # a call raised before the figures it feeds were measured
        failed.append((-1, "run", f"missing {missing}"))

    tracer.write(work / "spans.json")
    detail = {
        "workload": args.workload, "scale": args.scale, "seed": args.seed,
        "trace": args.trace, "repetitions": len(reps),
        "vertices": num_vertices, "directed_edges": num_edges,
        "end_to_end": e2e, "host": host_info,
        "rep_walls": walls,
        "level_wall_ms": [r["level"].wall_ms for r in reps if "level" in r],
        "louvain": {
            "modularity": first["result"].modularity,
            "levels": [{"moves": l.moves, "wall_ms": l.wall_ms} for l in first["result"].levels],
        } if first and "result" in first else None,
        "digests": digests,
        "layer_digests": layers["digests"] if layers else {},
        "failures": [{"rep": i, "op": op, "reason": why} for i, op, why in failed],
    }
    with open(work / "detail.json", "w") as f:
        json.dump(detail, f, indent=1)
    for sub in ("spark-local", "tmp", "eventlog", "checkpoint", "checkpoint-level1", "output"):
        shutil.rmtree(work / sub, ignore_errors=True)

    result = {
        "correct": not failed,
        "attempted": max(attempted, 1),
        "failed": len({(i, op) for i, op, _ in failed}),
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items() if name not in missing},
    }
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
