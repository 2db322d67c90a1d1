"""valentinus_spark benchmark: seeded vector-DB workloads on local Spark.

Run from the repository root:

    python3 perfbench/run.py --workload query --seed 1 --seconds 20 --trace 0

Workloads (see workloads.py): ``ingest`` and ``query``. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
(``{"perfbench": ...}``) holds the workload's own named metrics, sample
counts, set-up breakdown, corpus digest and the ambient-load probe.

With ``--trace 0`` the metrics are the end-to-end ones, the same names on
every workload:

- ``setup_s``: session start, plus input generation, plus the median of
  three repetitions of the collection build, plus untimed warm-up calls.
- ``primary_p50_s``: median latency of ``append`` of 1k documents
  (ingest) or of ``cosine_query`` top-10 (query).
- ``secondary_p50_s``: ``upsert`` of 1k documents (ingest) or
  ``nearest_query_df`` 1-NN (query).
- ``throughput_per_s``: median over the run's saves of documents per
  second of ``save()`` (ingest), or probes answered per second of
  ``cosine_query_many`` time (query).

With ``--trace 1`` the run is repeated with spans around every call into a
layer (spans.py), followed by a sweep that probes each layer alone, and
the metrics are the per-layer ones named in BENCHMARK.json.

Isolation: every run works in ``.perfbench_run/<pid>`` under the checkout
(warehouse, Spark local dirs, temp files) and deletes it at the end; Spark
runs ``local[<cores available>]`` and Python workers find the package
through ``PYTHONPATH``. The older root ``bench.py`` is superseded by this
benchmark for performance claims.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import tempfile
from pathlib import Path
from time import perf_counter

ROOT = Path(__file__).resolve().parent.parent


def load_probe() -> float:
    """Seconds for a fixed CPU task that depends on nothing in the repo
    (median of 3): a record of ambient machine load, not a gate."""
    times = []
    for _ in range(3):
        t0 = perf_counter()
        h = b"perfbench"
        for _ in range(100_000):
            h = hashlib.sha256(h).digest()
        times.append(perf_counter() - t0)
    return sorted(times)[1]


def isolate(rundir: Path) -> None:
    """Point every file Spark and Python write at ``rundir``."""
    tmp = rundir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(rundir / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(run, tracer, traced_s: float) -> dict:
    from workloads import median

    def ms(names):
        return 1e3 * median([s.duration for n in names for s in tracer.named(n)])

    def med(name, attr="duration"):
        return median([getattr(s, attr) for s in tracer.named(name)])

    samples = run.samples
    query_plans = ("collection.cosine_query", "collection.nearest_query_df",
                   "collection.cosine_query_many")
    query_collects = tracer.named("collection.collect")
    failed = tracer.failed_by_layer(run.failed_ops)
    m = {
        "session.start_s": (med("session.get_spark"), "s"),
        "embed.udf_docs_per_s": (median(samples["embed.udf_docs_per_s"]), "1/s"),
        "embed.query_embed_ms": (ms(["embed.embed_texts"]), "ms"),
        "embed.query_embed_calls_per_op": (
            len(tracer.named("embed.embed_texts")) / max(run.query_ops, 1), "count"),
        "filters.compile_ms": (ms(["filters.compile_filters"]), "ms"),
        "collection.plan_ms": (ms(query_plans), "ms"),
        "collection.collect_s": (median([s.duration for s in query_collects]), "s"),
        "collection.jobs_per_query": (median([s.jobs for s in query_collects]), "count"),
        "collection.tasks_per_query": (median([s.tasks for s in query_collects]), "count"),
        "collection.rows_scanned_per_result": (median(samples["rows_scanned_per_result"]), "count"),
        "collection.write_rows_per_s": (median(samples["collection.write_rows_per_s"]), "1/s"),
        "collection.append_s": (med("collection.append"), "s"),
        "collection.upsert_s": (med("collection.upsert"), "s"),
        "collection.upsert_rewritten_rows": (median(samples["upsert_rewritten_rows"]), "count"),
        "collection.find_s": (med("collection.find"), "s"),
        "collection.delete_s": (med("collection.delete"), "s"),
        "collection.jobs_per_save": (med("collection.save", "jobs"), "count"),
        "collection.stored_bytes_per_doc": (median(samples["stored_bytes_per_doc"]), "B"),
        "trace.overhead_pct": (100 * tracer.overhead_s / traced_s, "%"),
    }
    for name in ("cosine_rows_per_s", "l2_rows_per_s", "cosine_pairs_per_s"):
        m["functions.vector." + name] = (median(samples["functions.vector." + name]), "1/s")
    for layer, t in tracer.self_ms_per_op().items():
        m[layer + ".self_ms_per_op"] = (t, "ms")
    for layer, n in failed.items():
        m[layer + ".ops_failed"] = (n, "count")
    return m


def bench(args, rundir: Path) -> tuple[dict, dict]:
    sys.path.insert(0, str(ROOT))
    from valentinus_spark import embed
    from valentinus_spark.session import CONF_WAREHOUSE, get_spark

    import spans
    import workloads

    tracer = spans.Tracer() if args.trace else spans.NullTracer()
    undo = spans.install_wrappers(tracer) if args.trace else (lambda: None)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cpus": int(os.environ["SPARK_GRAFT_CPUS"])}
    t_start = perf_counter()
    with tracer.span("session.get_spark", "session"):
        spark = get_spark("perfbench")
    session_s = perf_counter() - t_start
    try:
        spark.sparkContext.setLogLevel("ERROR")
        warehouse = str(rundir / "warehouse")
        spark.conf.set(CONF_WAREHOUSE, warehouse)
        tracer.sc = spark.sparkContext
        run = workloads.Run(spark, tracer, args.seed, warehouse)
        wl = workloads.WORKLOADS[args.workload](run)
        setup = wl.setup(embed._TOKEN_CACHE_MAX)
        setup["session_s"] = session_s
        setup["setup_s"] += session_s
        detail["setup"] = setup
        detail["load_probe_before_s"] = load_probe()
        t0 = perf_counter()
        wl.measure(t0 + args.seconds)
        measured_s = perf_counter() - t0
        detail["load_probe_after_s"] = load_probe()
        detail["measured_s"] = measured_s
        detail["latencies_s"] = {k: [round(x, 4) for x in v] for k, v in run.lat.items()}
        named = wl.report()
        detail.update(wl.info)
        named["setup_s"] = (setup["setup_s"], "s")
        named["ops_failed_ratio"] = (run.failed / max(run.attempted, 1), "ratio")
        if args.trace:
            workloads.sweep(run, wl)
            metrics = layer_metrics(run, tracer, perf_counter() - t_start)
            detail["spans"] = len(tracer.spans)
        else:
            metrics = wl.end_to_end(named)
            metrics["setup_s"] = named["setup_s"]
        detail["named"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    finally:
        undo()
        stop_spark(spark)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rundir = ROOT / ".perfbench_run" / str(os.getpid())
    rundir.mkdir(parents=True)
    try:
        isolate(rundir)
        detail, result = bench(args, rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            rundir.parent.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"perfbench": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
