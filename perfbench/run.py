"""Crawl + operator benchmark for fs_crawler_spark.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: crawl_polite and
operator_suite (see README.md next to this file). The last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer breakdown with
``--trace 1``. The exit code is 0 only when every output check passed.
Everything the run writes goes to ``.perfbench_work/`` under the checkout
and is removed before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_polite", "operator_suite")
ENGINE_FILES = (
    "fs_crawler_spark/plans/crawl.py",
    "__spark_entry__.py",
    "BENCH/profile_stages.py",
)
TIME_LIMIT_S = 175
SETUP_REPEATS = 3


class Abort(Exception):
    pass


def _on_signal(signum, frame):
    if signum == signal.SIGALRM:
        raise Abort(f"run exceeded {TIME_LIMIT_S} s")
    raise Abort(f"terminated by signal {signum}")


def start_spark(work: str, cores: int, event_dir: str | None):
    from fs_crawler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="fs-crawler-perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, known_pids: set[int]) -> None:
    """Stop the session, end the JVM and wait for every Spark process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    for pid in known_pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited, waiting to be reaped by its parent
            except OSError:
                break
            time.sleep(0.05)


def run(args, work: str) -> dict:
    import inputs
    import tracing as tr
    import workloads as wls

    # metric names and units come from the benchmark's own definition
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cores = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    event_dir = os.path.join(work, "events") if traced else None

    t_setup = time.perf_counter()
    spark = start_spark(work, cores, event_dir)
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    sampler = tr.RssSampler(jvm_pid)
    session_s = time.perf_counter() - t_setup
    tracer = tr.Tracer()
    ctx = wls.Ctx(spark, work, os.path.join(work, "data"), args.seed, cores, tracer)
    wl = wls.make(ctx, args.workload)
    try:
        # set-up: inputs + cached corpus, several times (median), then one
        # discarded warm-up pass
        prep = []
        for i in range(SETUP_REPEATS):
            if i:
                wl.unprepare()
            t = time.perf_counter()
            shutil.rmtree(ctx.data, ignore_errors=True)
            inputs.write_inputs(
                ctx.data, args.seed, wl.shape["sf"], leaves=args.workload == "operator_suite"
            )
            wl.prepare()
            prep.append(time.perf_counter() - t)
        wl.oracle()  # checks only: not set-up, not timed
        t = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prep) + warm_s

        with sampler.active():
            passes = wls.timed_passes(wl, ctx, args.seconds)
        if not traced:
            values = wls.end_to_end(passes)
            values.update(
                setup_s=setup_s,
                peak_rss_mb=sampler.peak / 2**20,
                checks_passed_ratio=1.0 - ctx.failed / max(ctx.attempted, 1),
            )
        else:
            # layers a workload does not run stay 0
            values = {m["name"]: 0.0 for m in spec["per_layer"]}
            if isinstance(wl, wls.Crawl):
                tr.wrap_crawl_modules(tracer)
            tracer.enabled, tracer.run_id = True, 1
            try:
                p = wl.timed_pass(keep_ckpt=True)
            finally:
                tracer.enabled = False
                tracer.restore()
            spans = {}
            if isinstance(wl, wls.Crawl):
                spans = wls.crawl_layers(wl, p, tracer, 1)
                values.update({k: v for k, v in spans.items() if not k.startswith("_")})
                values.update(wl.replay(p.ckpt))
                shutil.rmtree(p.ckpt, ignore_errors=True)
            else:
                for s in tracer.spans:
                    values[f"{s.name}_s"] = s.end - s.start
                for leaf in wls.PAIR_LEAVES:
                    values[f"suite.{leaf}.rows"] = p.rows[leaf]
            # untraced passes on both sides of the traced one, so the
            # ratio is not skewed by passes still getting faster
            after = wl.timed_pass()
            values["trace.overhead_ratio"] = p.wall / statistics.median(
                [passes[-1].wall, after.wall]
            )
    finally:
        sampler.close()
        stop_spark(spark, sampler.seen_pids | set(tr.process_tree(jvm_pid)))
    if traced:
        evlog = tr.event_log_file(event_dir)
        values.update(wls.event_layers(evlog, work, p, spans, cores))
    print(
        f"session {session_s:.2f} s, prepare {[round(x, 2) for x in prep]} s, "
        f"warm-up {warm_s:.2f} s, passes {[round(p.wall, 2) for p in passes]} s",
        file=sys.stderr,
    )
    if ctx.problems:
        print("failed checks: " + "; ".join(ctx.problems[:10]), file=sys.stderr)
    if isinstance(wl, wls.Crawl):
        shapes = {wl.shape_seen} | {p.shape for p in passes}
        print(f"crawl shape (rounds, delta rounds): {sorted(shapes)}", file=sys.stderr)
    names = [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]
    unknown = set(values) - set(names)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec["per_layer" if traced else "end_to_end"]
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"not a fs_crawler_spark checkout (missing {', '.join(missing)})", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the engine's python workers import it from the checkout; every
    # temporary file (JVM, Python, Spark scratch) stays inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # neither JVM (Spark's launcher, the application) writes outside the work dir
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    # both unwind through run()'s cleanup: Spark stopped, work dir removed
    signal.signal(signal.SIGALRM, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.alarm(TIME_LIMIT_S)
    try:
        result = run(args, work)
    except Abort as e:
        print(str(e), file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
