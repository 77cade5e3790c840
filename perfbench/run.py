"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the workload's inputs from the seed,
times a fixed number of closed-loop rounds of calls into ``mtsad_spark``
(about S seconds of them), checks every round's outputs against independent
oracles, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; ``--trace 1`` turns the Spark UI on, spans
every layer call and reports the per-layer metrics. The full report (samples,
host fit, Spark confs, tails, errors) is printed on the line before and
written under ``perfbench/.work/results/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-ups per run; setup_s is their median
WARMUP_ROWS = 1_000_000
PIPELINE_STAGES = [
    "partials_1m", "partials_1h", "partials_1d", "rollup_1m", "rollup_1h",
    "rollup_1d", "gapfill_1m", "packed_1m", "scores_1m",
]


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_fit(work: str) -> dict:
    """Engine settings sized to this host, exported before the program is
    imported (``mtsad_spark.session`` reads its env at import)."""
    from perfbench.harness import read_meminfo_kib

    nproc = len(os.sched_getaffinity(0))
    mem_kib = read_meminfo_kib()
    # the session default (16g) exceeds small hosts' RAM; 2 GiB holds every
    # workload's data several times over and keeps the run small
    driver_gib = max(1, min(2, mem_kib // 2**20 // 4))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_gib}g",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # the launcher JVM that spark-submit starts first
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # naive datetimes cross the Python/JVM boundary in local time
            "TZ": "UTC",
            "PYTHONPATH": os.pathsep.join([ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
        }
    )
    time.tzset()
    return {
        "nproc": nproc,
        "mem_total_kib": mem_kib,
        "master": f"local[{nproc}]",
        "shuffle_partitions": nproc,
        "driver_memory": f"{driver_gib}g",
        "spark_local_dirs": local,
        "max_partition_bytes": "16m",
    }


def start_session(fit: dict, work: str, trace: bool):
    from mtsad_spark.session import get_spark

    confs = {
        "spark.sql.files.maxPartitionBytes": fit["max_partition_bytes"],
        "spark.local.dir": fit["spark_local_dirs"],
        # keep the JVM's temp files and perf-data file inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Xms{fit['driver_memory']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        confs.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    spark = get_spark(
        "perfbench", master=fit["master"], shuffle_partitions=fit["shuffle_partitions"], extra_confs=confs
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark, root_pid: int) -> None:
    """Stop Spark, then the JVM, and wait until no descendant is left."""
    from pyspark import SparkContext

    from perfbench.harness import proc_table, tree_pids

    try:
        spark.stop()
    except Exception:  # a broken gateway connection: stop the JVM below
        traceback.print_exc()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while len(tree_pids(proc_table(), root_pid)) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree_pids(proc_table(), root_pid)[1:]:
        os.kill(pid, signal.SIGKILL)


def end_to_end(setups, warm, bytes_per_point) -> dict:
    from perfbench.harness import median

    return {
        "setup_s": {"value": median([s["total"] for s in setups]), "unit": "s"},
        "items_per_s": {"value": median([r["items"] / r["wall"] for r in warm]), "unit": "1/s"},
        "cpu_s_per_round": {"value": median([r["cpu"] for r in warm]), "unit": "s"},
        "bytes_per_point": {"value": bytes_per_point, "unit": "B"},
    }


def per_layer(tr, snap: dict, props: dict, setups, traced, untraced) -> dict:
    """Per-layer metrics from the spans, their Spark jobs and the probe."""
    from perfbench import harness as h

    med = h.median

    def spans(name):
        return [s for s in tr.spans if s["name"] == name and s["end"] is not None]

    def wall(name):
        return med([s["end"] - s["start"] for s in spans(name)])

    def attr(name, key):
        return med([s[key] for s in spans(name)])

    def spark(name, key):
        vals = [
            h.span_spark_metrics(snap, {tr.group_of(d) for d in h.span_descendants(tr.spans, s["id"])})
            for s in spans(name)
        ]
        return med([v[key] for v in vals]) if key != "sql_nodes" else [v[key] for v in vals]

    def sql(name, metric, pred=lambda n: True):
        return med([h.sql_metric_total(nodes, metric, pred) for nodes in spark(name, "sql_nodes")])

    def exchanges(name):
        return med([sum(1 for n in nodes if "Exchange" in n["nodeName"]) for nodes in spark(name, "sql_nodes")])

    def per_point_us(name):
        return med([(s["end"] - s["start"]) / s["points"] * 1e6 for s in spans(name)])

    m = {
        "session.start_s": (med([s["session"] for s in setups]), "s"),
        "fixtures.materialize_s": (med([s["materialize"] for s in setups]), "s"),
        "sources.scan_s": (wall("sources.scan"), "s"),
        "sources.scan_tasks": (spark("sources.scan", "tasks"), "count"),
        "sources.scan_bytes": (sql("sources.scan", "size of files read", lambda n: "Scan" in n["nodeName"]), "B"),
        "rollup.partials_1m_s": (wall("rollup.partials_1m"), "s"),
        "rollup.partials_1m_cpu_s": (spark("rollup.partials_1m", "cpu_s"), "s"),
        "rollup.rows_per_partial": (
            spark("rollup.partials_1m", "input_records") / max(1, spark("rollup.partials_1m", "shuffle_write_records")),
            "ratio",
        ),
        "rollup.shuffle_bytes": (spark("rollup.partials_1m", "shuffle_write_bytes"), "B"),
        "rollup.spill_bytes": (spark("rollup.partials_1m", "spill_bytes"), "B"),
        "rollup.reaggregate_s": (wall("rollup.reaggregate"), "s"),
        "rollup.finalize_s": (wall("rollup.finalize"), "s"),
        "gapfill.locf_s": (wall("gapfill.locf"), "s"),
        "gapfill.linear_s": (wall("gapfill.linear"), "s"),
        "gapfill.spine_rows": (props["gapfill.spine_rows"], "count"),
        "gapfill.filled_share": (props["gapfill.filled_share"], "ratio"),
        "scoring.zscore_s": (wall("scoring.zscore"), "s"),
        "scoring.ewma_s": (wall("scoring.ewma"), "s"),
        "scoring.ewma_python_run_s": (sql("scoring.ewma", "time to run Python workers"), "s"),
        "scoring.ewma_python_start_s": (sql("scoring.ewma", "time to start Python workers"), "s"),
        "scoring.ewma_halo_share": (props["scoring.ewma_halo_share"], "ratio"),
        "scoring.exchanges": (exchanges("scoring.zscore") + exchanges("scoring.ewma"), "count"),
        "stats.rolling_corr_s": (wall("stats.rolling_corr"), "s"),
        "stats.sigma_rolling_s": (wall("stats.sigma_rolling"), "s"),
        "gorilla.encode_us_per_point": (per_point_us("gorilla.encode"), "us"),
        "gorilla.decode_us_per_point": (per_point_us("gorilla.decode"), "us"),
        "gorilla.pack_s": (wall("gorilla.pack"), "s"),
        "gorilla.unpack_s": (wall("gorilla.unpack"), "s"),
        "pipeline.run_s": (wall("pipeline.run"), "s"),
        **{
            f"pipeline.{st}_s": (med([s["stages"][st] for s in spans("pipeline.run") if "stages" in s]), "s")
            for st in PIPELINE_STAGES
        },
        "pipeline.jobs": (spark("pipeline.run", "jobs"), "count"),
        "pipeline.bytes_written": (attr("pipeline.run", "bytes_written"), "B"),
        "continuous.refresh_s": (wall("continuous.refresh"), "s"),
        "continuous.refresh_jobs": (spark("continuous.refresh", "jobs"), "count"),
        "continuous.affected_days": (attr("continuous.refresh", "affected_days"), "count"),
        "continuous.bytes_written_per_refresh": (spark("continuous.refresh", "output_bytes"), "B"),
        "continuous.range_s": (wall("continuous.range"), "s"),
        "continuous.range_jobs": (spark("continuous.range", "jobs"), "count"),
        "continuous.range_files_read": (
            sql("continuous.range", "number of files read", lambda n: "Scan" in n["nodeName"]),
            "count",
        ),
        "continuous.compact_s": (wall("continuous.compact"), "s"),
        "continuous.compact_bytes_rewritten": (spark("continuous.compact", "output_bytes"), "B"),
        "trace.coverage": (h.coverage(tr.spans, [s["id"] for s in spans("round")]), "ratio"),
        "trace.overhead_s": (med(traced) - med(untraced), "s"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    # a terminated run still stops its JVM: SystemExit unwinds through the
    # shutdown in main's finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "mtsad_spark", "__init__.py")):
        die(f"program sources mtsad_spark/ not found in {ROOT}")
    sys.path.insert(0, ROOT)
    from perfbench import harness as h
    from perfbench.workloads import WORKLOADS, layer_probe

    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    trace = bool(args.trace)
    work = os.path.join(HERE, ".work", args.workload)
    fit = host_fit(work)
    wl = WORKLOADS[args.workload](work)
    tr = h.Tracer(uuid.uuid4().hex[:8], enabled=trace)
    root_pid = os.getpid()
    report: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": trace}
    raised: list[str] = []

    with h.TreeSampler(root_pid) as sampler:
        with open("/proc/stat") as fh:
            stat0 = h.parse_cpu_line(fh.read())
        calib = [h.calibration_s()]
        spark, setups = None, []
        try:
            for k in range(SETUPS):
                t0 = time.perf_counter()
                with tr.span("setup"):
                    tr.sc = None
                    with tr.span("session.start"):
                        if spark is not None:
                            spark.stop()
                        ts = time.perf_counter()
                        spark = start_session(fit, work, trace)
                        ts = time.perf_counter() - ts
                    tr.sc = spark.sparkContext if trace else None
                    with tr.span("fixtures.materialize"):
                        tm = time.perf_counter()
                        wl.materialize(spark, args.seed)
                        tm = time.perf_counter() - tm
                    with tr.span("warmup"):
                        spark.range(WARMUP_ROWS).selectExpr("sum(id)").collect()
                setups.append({"total": time.perf_counter() - t0, "session": ts, "materialize": tm})

            def run_round(i: int, traced: bool) -> dict | None:
                tr.enabled = traced
                jit0, cpu0, t0 = sampler.jit_cpu(), sampler.sample(), time.perf_counter()
                try:
                    with tr.span("round"):
                        samples = wl.round(spark, i, tr)
                except Exception:
                    raised.append(traceback.format_exc())
                    print(raised[-1], file=sys.stderr)
                    samples, items = [("failed", time.perf_counter() - t0)], 0
                else:
                    items = wl.items
                finally:
                    tr.enabled = trace
                if not samples:
                    return None
                wall, cpu = time.perf_counter() - t0, sampler.sample() - cpu0
                jit = sampler.jit_cpu() - jit0
                return {
                    "wall": wall, "cpu": cpu - jit, "jit_cpu": jit, "items": items, "samples": samples, "traced": traced
                }

            first = run_round(0, trace)
            # closed loop, one client: a round starts when the previous one has
            # ended. The JIT keeps speeding rounds up for many rounds, and the
            # first warm round, which still carries much of the compilation,
            # spreads widest from run to run. So an untraced run lets one warm
            # round settle unmeasured, and the number of measured rounds after
            # it is fixed by --seconds and the workload's nominal round time,
            # never by timing noise: every run measures the same rounds of the
            # warm-up curve. A traced run brackets its traced round with
            # untraced ones instead, so the JIT trend cancels out of the
            # tracing overhead.
            settle = None if trace else run_round(1, False)
            warm: list[dict] = []
            t_loop = time.perf_counter()
            start = 1 if trace else 2
            for i in range(start, start + wl.measured_rounds(args.seconds, trace)):
                r = run_round(i, trace and i % 2 == 0)
                if r is None:
                    break
                warm.append(r)
            loop_s = time.perf_counter() - t_loop

            check_s = time.perf_counter()
            try:
                attempted, failed, errors = wl.check(spark)
                bytes_per_point = wl.stored_bytes_per_point(spark)
            except Exception:
                # outputs the oracle cannot even read fail every round
                errors = [traceback.format_exc()]
                print(errors[0], file=sys.stderr)
                attempted = failed = 1 + len(warm)
                bytes_per_point = 0.0
            check_s = time.perf_counter() - check_s
            attempted += len(raised)
            failed += len(raised)

            props, snap = {}, None
            if trace:
                props = layer_probe(spark, wl, tr)
                snap = h.SparkRest(spark.sparkContext).snapshot()
            conf = dict(spark.sparkContext.getConf().getAll())
            with open("/proc/stat") as fh:
                steal = h.steal_share(stat0, h.parse_cpu_line(fh.read()))
            calib.append(h.calibration_s())
        finally:
            if spark is not None:
                shutdown(spark, root_pid)

    # rounds that raised carry no work; if every round raised, report them
    # anyway (as zero throughput) so the run still prints its failed result
    warm_ok = [r for r in warm if r["items"]] or warm
    kinds: dict[str, list[float]] = {}
    for r in [first, *warm]:
        for kind, secs in r["samples"]:
            kinds.setdefault(kind, []).append(secs)
    if trace:
        traced = [r["wall"] for r in warm_ok if r["traced"]]
        untraced = [r["wall"] for r in warm_ok if not r["traced"]]
        metrics = per_layer(tr, snap, props, setups, traced, untraced)
    else:
        metrics = end_to_end(setups, warm_ok, bytes_per_point)

    report.update(
        {
            "host": {**fit, "steal_share": steal, "calibration_s": calib, "max_processes": sampler.max_procs},
            "peak_rss_mb": sampler.peak_rss / 2**20,
            "spark_conf": conf,
            "setups": setups,
            "first_round": {k: first[k] for k in ("wall", "cpu", "jit_cpu")},
            "settle_round": settle and {k: settle[k] for k in ("wall", "cpu", "jit_cpu")},
            "warm_rounds": [{k: r[k] for k in ("wall", "cpu", "jit_cpu", "items")} for r in warm],
            "loop_s": loop_s,
            "check_s": check_s,
            "run_s": time.perf_counter() - t_start,
            "op_latency_s": {k: h.summarize(v) for k, v in kinds.items()},
            "fail_ratio": failed / attempted if attempted else None,
            "spans": len(tr.spans),
            "errors": errors[:50] + [e.splitlines()[-1] for e in raised],
        }
    )
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    out_dir = os.path.join(HERE, ".work", "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{int(trace)}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump({**report, "result": result}, fh, indent=1, default=str)
    if trace:
        # each span with its self time and the Spark totals (jobs, stage CPU,
        # shuffle, spill, GC) of the jobs it and its children issued
        spans = [
            {
                **s,
                "self_s": h.self_time(tr.spans, s["id"]),
                "spark": {
                    k: v
                    for k, v in h.span_spark_metrics(
                        snap, {tr.group_of(d) for d in h.span_descendants(tr.spans, s["id"])}
                    ).items()
                    if k != "sql_nodes"
                },
            }
            for s in tr.spans
        ]
        with open(os.path.join(out_dir, stem + "-spans.json"), "w") as fh:
            json.dump(spans, fh, indent=1, default=str)
    print(json.dumps({k: v for k, v in report.items() if k != "spark_conf"}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
