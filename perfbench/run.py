"""qdrant_spark benchmark: one workload, one closed-loop client, every
response checked against a NumPy oracle.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run it from the root of a qdrant_spark checkout. ``--trace 0`` measures
the end-to-end metrics; ``--trace 1`` measures half the window untraced
and half traced, and reports the per-layer metrics. Lines starting with
``#`` describe the run; the last line is the JSON result. See README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import probes  # noqa: E402
from stats import percentile, quantile_hd, tail_percentile  # noqa: E402

END_TO_END = {  # name: (unit, better) -- every workload reports these
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_p90_ms": ("ms", "lower"),
    "queries_per_s": ("1/s", "higher"),
    "recall_at_10": ("ratio", "higher"),
    "worker_peak_rss_mb": ("MB", "lower"),
}
# name: (unit, better, bound, workloads that report it). These are not in
# BENCHMARK.json (every metric there must exist on every workload), so
# their bounds for compare.py live here: about three times the quartile
# spread ten seeds gave, and 0.25 at most. error_rate's median is 0, so
# any rise in it is a regression.
WORKLOAD_ONLY = {
    "rows_per_s": ("1/s", "higher", 0.25, {"ingest"}),
    "write_p50_ms": ("ms", "lower", 0.25, {"ingest"}),
    "write_bytes_per_user_byte": ("ratio", "lower", 0.1, {"ingest"}),
    "disk_bytes_per_user_byte": ("ratio", "lower", 0.05, {"bulk-search",
                                                           "ingest"}),
    "error_rate": ("ratio", "lower", 0.0, {"bulk-search", "ingest"}),
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, capped at 4 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def start_spark(workdir: str, trace: bool):
    from qdrant_spark import get_spark

    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({"spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    spark = get_spark("perfbench", cpus=cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker under it
    have ended (workers outlive the JVM as orphans, so wait on their
    pids)."""
    from pyspark import SparkContext

    ours = [p for p in probes.descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # already closed by spark.stop()
            pass
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while True:
        alive = [p for p in ours if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def run_window(workload, seconds: float, sampler, *, tracer=None,
               first_rid: int = 0) -> tuple[list[dict], float]:
    """Closed loop, one client: send the next request when the previous
    one is answered and checked, until the engine has been busy for
    ``seconds``, a round of the mix is complete and the workload's
    ``min_rounds`` have run. Returns the request records and the busy
    time."""
    from workloads import CYCLE_END

    stream = workload.requests()
    records: list[dict] = []
    busy = 0.0
    rounds = 0
    sampler.reset()
    rid = first_rid
    while True:
        req = next(stream)
        if req is CYCLE_END:
            rounds += 1
            if busy >= seconds and rounds >= workload.min_rounds:
                break
            continue
        rid += 1
        if tracer is not None:
            tracer.request = rid
        err = None
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span("request"):
                    resp = req.call()
            else:
                resp = req.call()
        except Exception:  # a failed request is counted, not fatal
            err = traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        busy += dt
        if tracer is not None:
            tracer.request = None
        outcome = None
        if err is None:
            try:
                outcome = req.check(resp)
            except Exception:
                err = traceback.format_exc(limit=3)
        if err is not None:
            print(f"# request {rid} ({req.kind}) failed:\n{err}",
                  file=sys.stderr)
        elif not outcome.ok:
            print(f"# request {rid} ({req.kind}) returned a wrong result",
                  file=sys.stderr)
        records.append({
            "rid": rid, "kind": req.kind, "role": req.role, "latency": dt,
            "wall": (wall0, wall0 + dt),
            "ok": err is None and outcome.ok,
            "queries": outcome.queries if outcome else 0,
            "results": outcome.results if outcome else 0,
            "recalls": outcome.recalls if outcome else [],
            "upserted": outcome.upserted if outcome else 0,
            "upserted_bytes": outcome.upserted_bytes if outcome else 0,
            "defect": outcome.defect if outcome else None,
        })
    sampler.sample()
    return records, busy


def end_to_end(workload, records, setup_s, peak_rss, wrote) -> dict:
    """The end-to-end metrics of one window, from wall-clock request
    times."""
    from workloads import disk_bytes_per_user_byte

    reads = [r["latency"] for r in records if r["role"] == "read"]
    writes = [r["latency"] for r in records if r["role"] == "write"]
    recalls = [x for r in records for x in r["recalls"]]
    upserted = sum(r["upserted"] for r in records)
    busy = sum(r["latency"] for r in records)
    m = {
        "setup_s": setup_s,
        "ops_per_s": len(records) / busy,
        "latency_p50_ms": 1e3 * quantile_hd(reads, 0.5),
        "latency_p90_ms": 1e3 * quantile_hd(reads, 0.9),
        "queries_per_s": sum(r["queries"] for r in records) / busy,
        "recall_at_10": statistics.fmean(recalls) if recalls else 1.0,
        "worker_peak_rss_mb": peak_rss / 2**20,
        "rows_per_s": upserted / busy,
        "write_p50_ms": 1e3 * quantile_hd(writes, 0.5) if writes else 0.0,
        "write_bytes_per_user_byte": (
            wrote / sum(r["upserted_bytes"] for r in records)
            if upserted else 0.0),
        "disk_bytes_per_user_byte": disk_bytes_per_user_byte(workload),
        "error_rate": sum(not r["ok"] for r in records) / len(records),
    }
    n = len(reads)
    tail = tail_percentile(n)
    print(f"# read latency: n={n}, p50={m['latency_p50_ms']:.1f} ms"
          + (f", p{tail:.0f}={1e3 * percentile(reads, tail):.1f} ms"
             if tail else ", no percentile has 10 samples beyond it"))
    if writes:
        print(f"# upsert latency: n={len(writes)}, "
              f"p50={m['write_p50_ms']:.1f} ms")
    print(f"# recall@10 over {len(recalls)} indexed-route responses")
    by_kind: dict[str, list[float]] = {}
    for r in records:
        by_kind.setdefault(r["kind"], []).append(r["latency"])
    print("# median latency by kind: " + ", ".join(
        f"{k} {1e3 * statistics.median(v):.0f} ms (n={len(v)})"
        for k, v in by_kind.items()))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "qdrant_spark", "__init__.py")):
        print("perfbench: run from the root of a qdrant_spark checkout "
              f"(no qdrant_spark package in {root})", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    for w in probes.busy_machine_warnings():
        print(f"# warning: {w}; timings may be disturbed")
    workdir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    # Python workers import qdrant_spark from the checkout; temp files
    # stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    import tempfile
    tempfile.tempdir = None

    spark = None
    try:
        spark = start_spark(workdir, bool(args.trace))
        result = measure(spark, WORKLOADS[args.workload], args, workdir)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(spark, workload_cls, args, workdir: str) -> dict:
    tracer = None
    if args.trace:
        from tracing import Tracer
        tracer = Tracer()
        tracer.install()
    workload = workload_cls(spark, args.seed, workdir)
    spark_s = time.perf_counter() - PROCESS_START
    t0 = time.perf_counter()
    workload.build()
    build_s = time.perf_counter() - t0
    setups = []
    for i in range(workload.setup_repeats):
        t0 = time.perf_counter()
        workload.setup(i)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm = workload.warm()
    warm_ok = all(o.ok for _k, _s, o in warm)
    warm_s = time.perf_counter() - t0
    setup_s = spark_s + build_s + statistics.median(setups) + warm_s
    print(f"# {workload.name}: seed {args.seed}, {cpus()} cores, "
          f"spark start and data generation {spark_s:.2f} s, build "
          f"{build_s:.2f} s, set-up "
          + ", ".join(f"{s:.2f}" for s in setups)
          + f" s, warm-up {warm_s:.2f} s ("
          + ", ".join(f"{k} {s:.2f}" for k, s, _o in warm) + ")")

    with probes.RssSampler() as sampler:
        if not args.trace:
            w0 = probes.tree_write_bytes()
            records, _busy = run_window(workload, args.seconds, sampler)
            wrote = probes.tree_write_bytes() - w0
            m = end_to_end(workload, records, setup_s, sampler.worker_peak,
                           wrote)
            report = {k: (m[k], END_TO_END[k][0]) for k in END_TO_END}
            for k, (unit, _b, _bound, where) in WORKLOAD_ONLY.items():
                if workload.name in where:
                    print(f"# {k} = {m[k]:.6g} {unit}")
        else:
            report, records = traced(spark, workload, tracer, sampler,
                                     args.seconds, workdir)
    for k, (v, unit) in report.items():
        print(f"# {k} = {v:.6g} {unit}")
    defects: dict[str, int] = {}
    for r in records:
        if r["defect"]:
            defects[r["defect"]] = defects.get(r["defect"], 0) + 1
    for d, n in defects.items():
        print(f"# known defect: {n} of {len(records)} responses: {d}")
    failed = sum(not r["ok"] for r in records)
    return {"correct": failed == 0 and warm_ok, "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit}
                        for k, (v, unit) in report.items()}}


def traced(spark, workload, tracer, sampler, seconds, workdir):
    """Half the window untraced, half traced (with the UDF profiler on);
    returns the per-layer metrics."""
    import tracing as tr

    tracer.uninstall()
    plain, busy_plain = run_window(workload, seconds / 2, sampler)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    tracer.install()
    records, busy = run_window(workload, seconds / 2, sampler,
                               tracer=tracer, first_rid=len(plain))
    tracer.uninstall()
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    windows = [(r["rid"], *r["wall"]) for r in records]
    try:
        rest = tr.SparkRest(spark).request_metrics(windows)
    except OSError as e:
        print(f"# warning: Spark REST metrics unavailable: {e}")
        rest = {}
    m = tr.summarize(tracer, records, rest, tr.udf_seconds(spark),
                     sampler.worker_peak, len(records) / busy,
                     len(plain) / busy_plain, workload.collection_dirs())
    share = tr.unattributed_share(tracer, {r["rid"] for r in records})
    print(f"# traced {len(records)} requests; largest share of a request's "
          f"wall time not in any layer's self time: {share:.2e}")
    out = os.path.join(os.path.dirname(workdir), "traces")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"{workload.name}-{os.getpid()}.json"))
    return {k: (v, tr.PER_LAYER_UNITS[k]) for k, v in m.items()}, \
        plain + records


if __name__ == "__main__":
    sys.exit(main())
