"""Link-graph benchmark: run one workload for one seed, print one JSON line.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload is repeated, closed loop, for
about ``--seconds`` seconds on ``local[<cpus>]``; every repetition's output
is checked (see workloads.py). With ``--trace 0`` the printed metrics are
the end-to-end ones of BENCHMARK.json; with ``--trace 1`` the repetitions are
traced and the metrics are the per-layer ones. The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
Results are also appended to ``--out`` (default
``perfbench/out/results.jsonl``; compare two such files with
``perfbench/compare.py``) and, when traced, the spans are written next to it
as ``spans-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT_DIR = BENCH_DIR / "out"
DRIVER_MEM = "2g"
INPUT_REPEATS = 3     # set-up materializes the input this many times; median
WARM_SUPERSTEPS = 2   # leading supersteps of each repetition not counted as steady

END_TO_END = {"setup_s": "s", "wall_s": "s", "edges_per_s_per_iter": "edges/s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "sources.input_s": "s",
    "extract.udf_rows_per_page": "rows/page", "extract.python_s": "s",
    "extract.python_mb_in": "MB",
    "graph.build_s": "s", "graph.build_jobs": "count", "graph.build_task_s": "s",
    "graph.build_shuffle_mb": "MB",
    "pagerank.rank_s": "s", "pagerank.iterations": "count",
    "pagerank.superstep_s_p50": "s", "pagerank.superstep_s_max": "s",
    "pagerank.task_s_per_superstep": "s", "pagerank.shuffle_mb_per_superstep": "MB",
    "pagerank.jobs_per_superstep": "count",
    "checkpoint.mb_per_superstep": "MB", "checkpoint.files_per_superstep": "count",
    "components.s": "s", "components.rounds": "count", "components.jobs": "count",
    "components.shuffle_mb": "MB",
    "labelprop.s": "s", "labelprop.rounds": "count", "labelprop.jobs": "count",
    "labelprop.shuffle_mb": "MB",
    "triangles.s": "s", "triangles.task_s": "s", "triangles.shuffle_mb": "MB",
    "spark.jobs": "count", "spark.task_s": "s", "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s",
    "trace.overhead_pct": "%",
}


def parse_args(argv: list[str] | None):
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny inputs, for the benchmark's own smoke test")
    p.add_argument("--out", type=Path, default=OUT_DIR / "results.jsonl",
                   help="JSON-lines file the result is appended to")
    return p.parse_args(argv)


def pin_environment(run_dir: Path) -> None:
    """Everything Spark and its Python workers need, pinned for this run:
    all cores, a bounded driver heap, the checkout on the workers' path, and
    scratch space inside the per-run directory."""
    for d in ("local", "tmp"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = None  # re-read TMPDIR


def spark_conf(run_dir: Path) -> dict[str, str]:
    many = "1000000"  # keep every job, stage and SQL execution for attribution
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": many,
        "spark.ui.retainedStages": many,
        "spark.sql.ui.retainedExecutions": many,
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # the whole heap is touched at start, so peak_rss_mb moves with the
        # memory outside the heap (Arrow and netty buffers, metaspace, code)
        # rather than with how far G1 happened to grow the heap before a GC
        "spark.driver.extraJavaOptions": " ".join([
            f"-Djava.io.tmpdir={run_dir / 'tmp'}", f"-Xms{DRIVER_MEM}", "-XX:+AlwaysPreTouch"]),
    }


def _children_of(pids: set[int]) -> set[int]:
    out = set()
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            try:
                with open(f"/proc/{entry.name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid in pids:
                out.add(int(entry.name))
    return out


def _descendants(pid: int) -> set[int]:
    found, frontier = set(), {pid}
    while frontier:
        frontier = _children_of(frontier) - found
        found |= frontier
    return found


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for it and every process it
    started (the Python worker daemon and its workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = gateway.proc
    spawned = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in spawned):
        time.sleep(0.1)


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def attempt(wl, tracer, check_oracle: bool):
    """One checked repetition; a failed one is counted, not fatal."""
    from workloads import Rep
    try:
        rep = wl.run(tracer, check_oracle=check_oracle)
    except Exception as e:
        traceback.print_exc()
        rep = Rep(wall_s=math.nan, failures=[f"{type(e).__name__}: {e}"])
    for msg in rep.failures:
        print(f"check failed: {msg}", file=sys.stderr)
    return rep


def repeat(wl, tracer, seconds: float) -> list[tuple]:
    """Run repetitions, closed loop, while the next one would likely end
    before ``seconds``; at least one. Returns (rep, root span) per repetition."""
    runs: list[tuple] = []
    t0 = time.monotonic()
    while True:
        with tracer.span("rep") as root:
            rep = attempt(wl, tracer, check_oracle=False)
        runs.append((rep, root))
        walls = [r.wall_s for r, _ in runs if not math.isnan(r.wall_s)]
        if not walls or time.monotonic() - t0 + statistics.median(walls) > seconds:
            return runs


def _median(xs) -> float:
    xs = [x for x in xs if not math.isnan(x)]
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl, reps: list, setup_s: float, rss_mb: float) -> dict[str, float]:
    steady = [s for r in reps for s in r.supersteps_s[WARM_SUPERSTEPS:]]
    if steady:
        # n_edges / median steady superstep, PageRank's north-rule metric
        eps = wl.n_edges / statistics.median(steady)
    else:
        eps = _median(wl.n_edges * r.rounds[0] / r.rounds[1] for r in reps if r.rounds)
    return {"setup_s": setup_s, "wall_s": _median(r.wall_s for r in reps),
            "edges_per_s_per_iter": eps, "peak_rss_mb": rss_mb}


def per_layer(tracer, wl, traced, session_s, input_s, overhead_pct) -> dict[str, float]:
    """Per-layer metrics of each traced repetition, median over them."""
    rows = []
    for rep, root in traced:
        kids = {c.name: c for c in tracer.children(root)}
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(rep.layer)

        def put(span_name: str, prefix: str, **counters: str) -> None:
            s = kids.get(span_name)
            if s is not None:
                m[f"{prefix}s"] = s.dur_s
                for metric, counter in counters.items():
                    m[metric] = tracer.total(s, counter)

        put("graph.build", "graph.build_", **{
            "graph.build_jobs": "jobs", "graph.build_task_s": "task_s",
            "graph.build_shuffle_mb": "shuffle_mb", "extract.python_s": "udf_python_s"})
        if "graph.build" in kids:
            build = kids["graph.build"]
            m["extract.python_mb_in"] = tracer.total(build, "udf_bytes_in") / 1e6
            if wl.n_pages:
                m["extract.udf_rows_per_page"] = tracer.total(build, "udf_rows") / wl.n_pages
        put("pagerank.rank", "pagerank.rank_")
        if "pagerank.rank" in kids and rep.supersteps_s:
            rank, iters = kids["pagerank.rank"], len(rep.supersteps_s)
            m["pagerank.superstep_s_p50"] = statistics.median(rep.supersteps_s)
            m["pagerank.superstep_s_max"] = max(rep.supersteps_s)
            m["pagerank.task_s_per_superstep"] = tracer.total(rank, "task_s") / iters
            m["pagerank.shuffle_mb_per_superstep"] = tracer.total(rank, "shuffle_mb") / iters
            m["pagerank.jobs_per_superstep"] = tracer.total(rank, "jobs") / iters
        put("components", "components.", **{"components.jobs": "jobs",
                                             "components.shuffle_mb": "shuffle_mb"})
        put("labelprop", "labelprop.", **{"labelprop.jobs": "jobs",
                                           "labelprop.shuffle_mb": "shuffle_mb"})
        put("triangles", "triangles.", **{"triangles.task_s": "task_s",
                                           "triangles.shuffle_mb": "shuffle_mb"})
        for c in ("jobs", "task_s", "shuffle_mb", "spill_mb", "gc_s"):
            m[f"spark.{c}"] = tracer.total(root, c)
        rows.append(m)
    out = {k: _median(float(r[k]) for r in rows) for k in PER_LAYER}
    out["session.start_s"] = session_s
    out["sources.input_s"] = statistics.median(input_s)
    out["trace.overhead_pct"] = overhead_pct
    return out


def measure(args, run_dir: Path) -> tuple[dict, dict]:
    from pagerank_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    t_start = time.monotonic()
    spark = get_spark("perfbench", extra_conf=spark_conf(run_dir))
    session_s = time.monotonic() - t_start
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.record("session.start", t_start, t_start + session_s)
        wl = wl_cls(spark, args.seed, args.size, str(run_dir))
        wl.prepare()  # host-side inputs and oracles: not part of set-up time
        input_s = []
        for _ in range(INPUT_REPEATS):
            wl.release()
            with tracer.span("sources.input"):
                t0 = time.monotonic()
                wl.materialize()
                input_s.append(time.monotonic() - t0)
        # one untraced, untimed repetition: it warms every code path the
        # timed ones take (the first repetition in a session runs 10-20%
        # slower) and is the one checked against the oracles, once per seed
        t0 = time.monotonic()
        warm = attempt(wl, Tracer(spark, enabled=False), check_oracle=True)
        setup_s = session_s + statistics.median(input_s) + time.monotonic() - t0

        tag_s = tracer.tag_s
        runs = repeat(wl, tracer, args.seconds)
        reps = [r for r, _ in runs]
        rss = peak_rss_mb(spark)
        if args.trace:
            tracer.collect()
            # collection happens after the loop, so inside the timed region
            # tracing costs only the job-group calls around each span
            wall = sum(r.wall_s for r in reps if not math.isnan(r.wall_s))
            overhead = 100.0 * (tracer.tag_s - tag_s) / wall if wall else 0.0
            metrics = per_layer(tracer, wl, runs, session_s, input_s, overhead)
            units = PER_LAYER
        else:
            metrics = end_to_end(wl, reps, setup_s, rss)
            units = END_TO_END
        wl.release()
    finally:
        stop_spark(spark)

    checked = [warm] + reps
    failed = sum(1 for r in checked if r.failures)
    result = {"correct": failed == 0, "attempted": len(checked), "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "size": args.size, "reps": len(reps),
              "failures": [f for r in checked for f in r.failures],
              "spans": tracer.dump() if args.trace else []}
    return result, detail


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, str(BENCH_DIR))
    sys.path.insert(1, str(ROOT))
    args = parse_args(argv)
    # fail fast, before any process starts, outside a full checkout
    import pagerank_spark  # noqa: F401

    OUT_DIR.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=OUT_DIR))
    try:
        pin_environment(run_dir)
        result, detail = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    args.out.parent.mkdir(parents=True, exist_ok=True)
    spans = detail.pop("spans")
    if spans:
        with open(args.out.parent / f"spans-{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump(spans, f, indent=1)
    with open(args.out, "a") as f:
        f.write(json.dumps({**detail, "result": result}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
