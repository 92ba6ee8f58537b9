"""Benchmark for featurebase_spark: PQL/SQL serving, spool ingest beside
routed reads, and the dedup corpus pipeline.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout of this repository. It generates its
inputs from ``--seed``, runs a fixed number of operations (scaled from
``--seconds``) in a closed loop, checks every answer, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, from spans
the benchmark records around its calls into each layer. The lines before
it give every metric with its unit and sample count, and the host.

A per-layer metric of a layer the workload does not run (``pql.execute_ms``
on ingest_serve, ``pipeline.*`` on serve_mixed, ...) reads NOT_RUN, -1, so
that it cannot be taken for a measured 0.

Everything a run writes goes under a fresh temporary root inside the
checkout (removed at exit); traced runs also keep their spans in
``.perfbench-out/``. Before it exits, on every path out, it ends the Spark
JVM and waits until every process it started has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import host  # noqa: E402
import spans as tr  # noqa: E402
import workloads as W  # noqa: E402

#: Per-layer value of a layer the workload does not run.
NOT_RUN = -1.0

#: Spark parallelism, pinned so both commits of a comparison run alike.
CPUS = min(4, len(os.sched_getaffinity(0)))

#: Fixed JVM heap (-Xms = -Xmx) and young generation, with the parallel
#: collector: the heap pages the JVM touches then follow the live data, not
#: the moment the adaptive sizer chose to grow the heap, which is what made
#: peak RSS wander between runs of the same work.
JVM_OPTS = "-XX:+UseParallelGC -Xmn256m -XX:-UsePerfData"
DRIVER_MEMORY = "1536m"


def _hygiene(tmp: str, traced: bool) -> None:
    """Point every scratch location at ``tmp`` before Spark starts."""
    os.makedirs(os.path.join(tmp, "local"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(CPUS)
    os.environ["SPARK_UI"] = "true" if traced else "false"
    os.environ.pop("SPARK_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(tmp)  # spark-warehouse, derby and friends land here


def _spark_starter(tmp: str, tracer: tr.Tracer):
    def start():
        from featurebase_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": (
                f"{JVM_OPTS} -Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}"
            ),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        }
        spark = get_spark("perfbench", shuffle_partitions=CPUS, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        return spark

    return start


def _become_subreaper() -> None:
    """Have orphans of the processes this run starts (Python workers that
    outlive the JVM that forked them) re-parented to this process, so that
    :func:`_stop_processes` can wait for them as well."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _stop_processes(grace_s: float = 30.0) -> None:
    """Stop Spark, end the JVM it runs in, and wait until every process
    this run started has ended.

    ``SparkSession.stop`` leaves the JVM running; it exits only when its
    stdin closes, which otherwise happens as this process exits, so the
    JVM would outlive the run. Whatever is left after the JVM has ended is
    killed, and every child is reaped."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            pass  # the JVM is ended below either way
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(grace_s)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        rest = host._tree_pids(os.getpid())[1:]
        for pid in rest:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            if not rest:
                return
        if time.monotonic() > deadline:
            return
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()

    import featurebase_spark  # noqa: F401 - fail fast outside a checkout

    probe = host.HostProbe()
    tmp = os.path.join(ROOT, ".perfbench-tmp", f"run-{os.getpid()}")
    tracer = tr.Tracer(bool(args.trace))
    _hygiene(tmp, tracer.enabled)
    ctx = W.Ctx(
        seed=args.seed, seconds=args.seconds, tracer=tracer, tmp=tmp,
        data_dir=os.path.join(tmp, "data"),
        start_spark=_spark_starter(tmp, tracer),
    )
    try:
        res = W.WORKLOADS[args.workload](ctx)
        info = {**probe.report(res.spark), "timed": res.timed_host, "spark_cpus": CPUS}
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # clean up to the end
        _stop_processes()
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it

    e2e = {
        "setup_s": (sum(res.setup.values()), "s", 1),
        "peak_rss_mb": (sum(res.rss.values()), "MB", 1),
        "throughput_per_s": (res.throughput[0], "1/s", res.throughput[1]),
        "latency_ms": (res.latency_ms[0], "ms", res.latency_ms[1]),
    }
    print("host " + json.dumps(info))
    print(f"workload {args.workload} seed {args.seed} "
          f"attempted {res.attempted} failed {len(res.errors)} "
          f"fail_ratio {len(res.errors) / res.attempted:.4f}")
    for name, (v, unit, n) in {**res.detail, **e2e}.items():
        print(f"  {name:<34} {v:>14.4f} {unit:<6} n={n}")
    print("  peak_rss_mb by program " + json.dumps(
        {k: round(v, 1) for k, v in sorted(res.rss.items())}))
    print("  unit_s " + " ".join(f"{u:.3f}" for u in res.unit_s))
    for e in res.errors[:20]:
        print("  error: " + e)

    if tracer.enabled:
        print(f"  traced_units {sum(res.traced_unit)} untraced_units "
              f"{len(res.traced_unit) - sum(res.traced_unit)} "
              f"trace_errors {len(tracer.errors)}")
        for e in tracer.errors[:20]:
            print("  trace error: " + e)
        metrics = _layer_metrics(res, tracer)
        out_dir = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(
            out_dir, f"spans-{args.workload}-s{args.seed}-{os.getpid()}.jsonl"
        ))
        for name, (v, _) in metrics.items():
            shown = "n/a" if v == NOT_RUN else f"{v:.4f}"
            print(f"  {name:<44} {shown:>14}")
    else:
        metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
    print(json.dumps({
        "correct": len(res.errors) == 0,
        "attempted": res.attempted,
        "failed": len(res.errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _layer_metrics(res: W.Result, tracer: tr.Tracer) -> dict:
    """Every per-layer metric of BENCHMARK.json as name -> (value, unit);
    a layer this workload does not run reads NOT_RUN.

    ``trace.overhead_pct`` is how much lower the traced units' throughput
    is than the untraced units', both taken the way the end-to-end figure
    is. The untraced units of a traced run still have the Spark UI on, so
    the UI's own cost is not in it; the UDF profiler's is (it runs in
    traced pipeline passes only)."""
    spans = tracer.spans
    got = {
        **{f"setup.{k}": v for k, v in res.setup.items()},
        "trace.overhead_pct": 100 * (res.throughput[0] / res.traced_throughput - 1),
        "pql.execute_ms": tr.median_self_ms(spans, "pql.execute"),
        "sql.fb_sql_ms": tr.median_self_ms(spans, "sql.fb_sql"),
        **tr.spark_layer(tracer.worked),
        **res.layers,
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = json.load(fh)["per_layer"]
    return {
        m["name"]: (NOT_RUN if got.get(m["name"]) is None else got[m["name"]], m["unit"])
        for m in per_layer
    }


if __name__ == "__main__":
    sys.exit(main())
