"""Crawl-path benchmark: one workload per run, in one fresh process.

    python3 perfbench/run.py --workload crawl_waves --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run sizes Spark to the machine
(``local[nproc - 1]``, heap from MemTotal), sets up the workload several
times, warms up untimed, then measures as many whole units of work
as fit ``--seconds``.  It prints a report, then as its last line one JSON
object: ``correct``, ``attempted`` and ``failed`` steps, and the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, which times an untraced phase and then a traced one,
and reports the traced step median over the untraced one as
``trace.overhead_ratio``).  ``setup_s`` is the time from process
start to the first timed step: JVM start, one set-up (the median of the
repetitions) and the warm-up.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-up repetitions; setup_s counts their median


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    spec = _load_spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import crawler_apple_podcast_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import probes
    from workloads import WORKLOADS

    t_process = time.perf_counter() - probes.process_age_s()
    box = probes.box()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap = f"{box['heap_gb']}g"
    os.environ.update(
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_GRAFT_DRIVER_JAVA_OPTS=(
            f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
    )
    from crawler_apple_podcast_spark.session import get_spark

    spark = None
    started: list[int] = []
    try:
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{box['cores']}]",
            shuffle_partitions=box["shuffle_partitions"],
            extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
        )
        spark.sparkContext.setLogLevel("ERROR")
        startup_s = time.perf_counter() - t_process
        gateway = spark.sparkContext._gateway

        wl = WORKLOADS[args.workload](spark, args.seed, work)
        setups = []
        # setup_s is an end-to-end metric; a traced run sets up once
        for _ in range(1 if args.trace else SETUPS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        ticks0 = probes.cpu_ticks()
        ph = wl.run(args.seconds, traced=False)
        steal = probes.steal_pct(ticks0, probes.cpu_ticks())
        traced = wl.run(args.seconds, traced=True) if args.trace else None
        rss = probes.peak_rss_mb()
    finally:
        if spark is not None:
            started = probes.descendants()
            spark.stop()
            # The JVM exits when its stdin closes; its Python daemon and
            # workers follow it.
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        left = probes.wait_gone(started, 60)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    if left:
        print(f"perfbench: processes {left} did not exit", file=sys.stderr)
        return 3

    setup_s = startup_s + probes.median(setups) + warmup_s
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "box": box,
        "startup_s": startup_s,
        "setup_runs_s": setups,
        "warmup_s": warmup_s,
        "setup_s": setup_s,
        "steps": len(ph.steps),
        "step_s": ph.steps,
        "busy_s": ph.busy_s,
        "steal_pct": steal,
        "step_tail": f"undefined: {len(ph.steps)} steps, 11 needed",
        "fail_ratio": ph.failed / max(1, ph.attempted),
        "check_errors": ph.errors + (traced.errors if traced else []),
    }
    attempted, failed = ph.attempted, ph.failed
    if args.trace:
        attempted, failed = attempted + traced.attempted, failed + traced.failed
        spec_metrics = spec["per_layer"]
        values = {m["name"]: 0.0 for m in spec_metrics}
        values.update(traced.layers)
        values["session.start_s"] = startup_s
        untraced_p50 = probes.median(ph.steps)
        values["trace.overhead_ratio"] = (
            probes.median(traced.steps) / untraced_p50 if untraced_p50 else 0.0
        )
        report["traced_steps"] = len(traced.steps)
    else:
        spec_metrics = spec["end_to_end"]
        values = {
            "urls_per_s": ph.completed / ph.busy_s if ph.busy_s else 0.0,
            "step_p50_s": probes.median(ph.steps),
            "setup_s": setup_s,
            "peak_rss_mb": rss,
        }
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec_metrics}
    print("report " + json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
