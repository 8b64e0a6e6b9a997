"""Benchmark of the inverted-index + BM25 engine.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 8 --trace 0

Runs one workload (``ingest_serve`` or ``batch_rank``, see
``workloads.py``) against the engine's public functions on
``local[nproc]`` from one client process, checks every result, and
prints the metrics: end-to-end ones with ``--trace 0``, the per-layer
table folded from Spark's event log with ``--trace 1``. The last line
of standard output is one JSON object; the line before it, prefixed
``detail``, carries samples, tails, job witnesses and the seed. A run
with a failed check exits 1; a run that cannot start exits 2 without a
result.

Everything the run writes (indexes, Spark scratch, event log, temp
files) lives under ``.perfbench_tmp/`` in the working directory and is
removed before it exits; a run that cannot remove it fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import procs
from eventlog import fold
from harness import LAYERS, Bench, median, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s", "ingest_docs_per_s": "docs/s", "query_p50_ms": "ms",
    "query_qps": "1/s", "peak_mem_mb": "MB",
}
# per-layer metric: (event-log total from eventlog.fold, divisor, unit)
FROM_LOG = {
    "jobs": ("jobs", 1, "count"),
    "stages": ("stages", 1, "count"),
    "tasks": ("tasks", 1, "count"),
    "exec_run_s": ("exec_run_ms", 1e3, "s"),
    "exec_cpu_s": ("exec_cpu_ns", 1e9, "s"),
    "gc_s": ("gc_ms", 1e3, "s"),
    "shuffle_write_mb": ("shuffle_write_bytes", 2**20, "MB"),
    "shuffle_read_mb": ("shuffle_read_bytes", 2**20, "MB"),
    "spill_mb": ("spill_bytes", 2**20, "MB"),
    "py_in_mb": ("py_in_bytes", 2**20, "MB"),
    "py_out_mb": ("py_out_bytes", 2**20, "MB"),
    "py_run_s": ("py_run_ms", 1e3, "s"),
    "py_init_s": ("py_init_ms", 1e3, "s"),
}
# per-layer metrics read from the layers' return values
FROM_RESULTS = {
    "build.tokenize_s": "s", "build.doc_lens_s": "s", "build.encode_s": "s",
    "build.index_mb": "MB", "upsert.buckets_built": "count",
    "compact.layers_merged": "count",
}
# layers whose calls launch no Spark job by design (``open`` reads the
# snapshot manifest on the driver): only calls, wall time and jobs
DRIVER_ONLY = {"open"}
QUERY_CLASSES = ("needle", "over", "nil", "gone", "layered", "batch")


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_serve", "batch_rank"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _hygiene(tmp: str) -> dict[str, str]:
    """Environment for the driver JVM and the Python workers: the repo
    on PYTHONPATH, scratch and temp files inside the run's directory,
    no inherited engine knobs, a fixed driver heap."""
    for name in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[name]
    paths = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # no hsperfdata file in /tmp from spark-submit's launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = os.environ["TMPDIR"]
    return {
        # JVM temp files (native-library unpacking) stay in the run's
        # directory, no hsperfdata file; a fixed-size heap keeps the
        # memory metric from following heap-growth heuristics
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            "-Xms1g",
    }


def _trace_conf(tmp: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
    }


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import workloads  # imports the engine package
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}",
              file=sys.stderr)
        return 2

    tmp_parent = os.path.join(os.getcwd(), ".perfbench_tmp")
    tmp = os.path.join(tmp_parent, f"{args.workload}-{os.getpid()}")
    try:
        run = _run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_parent)
        except OSError:
            pass  # another run's directory is still there
    if run["error"] is not None:
        print(run["error"], file=sys.stderr)
        return 1
    b, cores = run["bench"], run["cores"]
    problems = []
    if os.path.exists(tmp):
        problems.append(f"run directory {tmp} left behind")
    if run["leftover"]:
        problems.append(f"processes still running at exit: {run['leftover']}")

    e2e = {
        "setup_s": b.timed_start - t_start,
        "ingest_docs_per_s": workloads.ingest_docs_per_s(run["summary"]),
        "query_p50_ms": median(b.query_ms),
        "query_qps": b.rank_queries / b.rank_wall_s,
        "peak_mem_mb": run["peak_mb"],
    }
    if args.trace:
        rows = run["layer_rows"]
        metrics = _layer_metrics(b, rows, cores)
        jobs = b.jobs
        mismatch = {L: (jobs.get(L, 0), rows[L]["jobs"]) for L in LAYERS
                    if jobs.get(L, 0) != rows[L]["jobs"]}
        if mismatch:
            problems.append("event-log jobs != statusTracker jobs "
                            f"(layer: (tracker, log)): {mismatch}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    qtail = tail(b.query_ms)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "session_s": run["session_end"] - t_start,
        "timed_s": b.timed_end - b.timed_start,
        "query_samples": len(b.query_ms),
        "query_tail": ({"percentile": qtail[0], "ms": qtail[1]}
                       if qtail else None),
        "walls": dict(b.walls), "jobs": b.jobs,
        "call_jobs": dict(b.call_jobs), "decode": dict(b.blocks),
        "end_to_end": e2e, "failures": b.failures[:20],
        "problems": problems,
    }
    _print_table(e2e, metrics if args.trace else None, detail)
    correct = b.failed == 0 and not problems
    print("detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0 if correct else 1


def _run(args, tmp: str) -> dict:
    """Start the session, run the workload, stop Spark and every process
    it started; fold the event log of a traced run."""
    import workloads
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        get_spark,
    )

    conf = _hygiene(tmp)
    if args.trace:
        conf.update(_trace_conf(tmp))
    cores = len(os.sched_getaffinity(0))  # what nproc prints
    out = {"cores": cores, "error": None, "summary": None,
           "layer_rows": None}
    with procs.MemSampler() as mem:
        spark = get_spark(f"perfbench-{args.workload}", cores=cores,
                          extra_conf=conf)
        out["session_end"] = time.monotonic()
        try:
            out["bench"] = Bench(spark, args.seed, args.seconds, tmp)
            out["summary"] = workloads.WORKLOADS[args.workload](out["bench"])
        except Exception:  # report, then still stop Spark and clean up
            out["error"] = traceback.format_exc()
        # Python workers are the JVM's children: list them before it
        # exits and they are re-parented
        pids = set(procs.descendants(os.getpid()))
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()  # the JVM exits when stdin closes
        out["leftover"] = procs.stop_all(pids)
    out["peak_mb"] = mem.peak_mb
    if args.trace and out["error"] is None:
        out["layer_rows"] = fold(os.path.join(tmp, "events"), set(LAYERS))
    return out


def _layer_metrics(b, rows: dict, cores: int) -> dict:
    out = {}
    for L in LAYERS:
        wall = sum(b.walls.get(L, []))
        out[f"{L}.calls"] = len(b.walls.get(L, [])), "count"
        out[f"{L}.wall_s"] = wall, "s"
        if L in DRIVER_ONLY:
            out[f"{L}.jobs"] = rows[L]["jobs"], "count"
            continue
        for name, (field, div, unit) in FROM_LOG.items():
            out[f"{L}.{name}"] = rows[L][field] / div, unit
        out[f"{L}.busy_frac"] = (
            rows[L]["exec_run_ms"] / 1e3 / (wall * cores) if wall else 0.0,
            "ratio")
    for name, unit in FROM_RESULTS.items():
        out[name] = b.layer_extra.get(name, 0.0), unit
    dec = sum(v[0] for v in b.blocks.values())
    tot = sum(v[1] for v in b.blocks.values())
    out["wand.blocks_decoded"] = dec, "count"
    out["wand.blocks_total"] = tot, "count"
    out["wand.decode_ratio"] = dec / tot if tot else 0.0, "ratio"
    for c in QUERY_CLASSES:
        d, t = b.blocks.get(c, (0, 0))
        out[f"wand.{c}.decode_ratio"] = d / t if t else 0.0, "ratio"
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def _print_table(e2e: dict, layers: dict | None, detail: dict) -> None:
    print(f"workload {detail['workload']} seed {detail['seed']} "
          f"trace {detail['trace']} cores {detail['cores']}")
    for k, v in e2e.items():
        print(f"  {k:<20} {v:14.4f} {E2E_UNITS[k]}")
    t = detail["query_tail"]
    print(f"  query samples {detail['query_samples']}, tail "
          + (f"p{t['percentile']:.1f} {t['ms']:.1f} ms" if t
             else "n/a (fewer than 11 samples)"))
    print(f"  jobs per layer (statusTracker) {detail['jobs']}")
    for c, (d, tot) in sorted(detail["decode"].items()):
        print(f"  decode {c:<8} {d}/{tot} = {d / tot if tot else 0:.4f}")
    if layers:
        for name, m in layers.items():
            print(f"  {name:<28} {m['value']:14.4f} {m['unit']}")
    for f in detail["failures"] + detail["problems"]:
        print(f"  FAILED: {f}")


if __name__ == "__main__":
    sys.exit(main())
