"""Crawl-frontier benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload wide_fanout --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process starts Spark on
``local[<cores>]`` and drives ``CrawlEngine.run`` as a closed loop (a wave
starts only after the previous wave's manifest commits; no concurrent
clients). Set-up is timed apart from the measured runs: session start, then
the checkpoint build (the seed commit of the workload's seed rows, plus the
preloaded history of the resume workload). Every timed run reopens a pristine
copy of that checkpoint with ``run(resume=True)``; the first timed wave still
pays the JVM's remaining JIT and code-generation warm-up, as in a batch job.
Timed runs repeat until ``--seconds`` of ``run()`` wall time are measured;
every run is checked against the single-threaded oracle (tests/oracle.py)
and a mismatching or raising run counts as failed and contributes no
timings.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` additionally
makes one traced run and prints the per-layer metrics (see README.md).
Human-readable lines go to stdout first; the LAST line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import sys
import threading
import time
import traceback

from procstat import PeakRss, descendants

HERE = os.path.dirname(os.path.abspath(__file__))
#: hard wall-clock limit of one invocation; past it the process tree is
#: killed and the run exits non-zero without a result
DEADLINE_S = 170.0


def _program_root() -> str | None:
    root = os.getcwd()
    ok = os.path.isfile(os.path.join(root, "amazonwebcrawler_spark", "plans", "crawler.py")) and os.path.isfile(
        os.path.join(root, "tests", "oracle.py")
    )
    return root if ok else None


def _abort(reason: str, code: int) -> None:
    """Kill every process this run started and exit without a result."""
    print(f"perfbench: {reason}, aborting", file=sys.stderr, flush=True)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    os._exit(code)


def _guard() -> None:
    """Deadline timer, and SIGTERM handling that takes the JVM and its
    Python workers down too (they outlive a plain interpreter exit)."""
    t = threading.Timer(DEADLINE_S, _abort, (f"deadline of {DEADLINE_S:.0f} s exceeded", 3))
    t.daemon = True
    t.start()
    signal.signal(signal.SIGTERM, lambda *_: _abort("terminated", 143))


def _prepare_env(root: str, work: str) -> None:
    """Keep every file Spark and its workers write inside the checkout, and
    let the forked Python workers import the program."""
    for sub in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # the JVMs would otherwise write their perf-data files under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_session(work: str, trace: bool):
    from amazonwebcrawler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{_cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM (it exits when its stdin closes) and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    t_end = time.time() + 20
    while (left := descendants(os.getpid())) and time.time() < t_end:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()) and time.time() < t_end + 10:
        time.sleep(0.2)


# ---------------------------------------------------------------- one timed run
def _run_metrics(store, t0: float, wall: float, peak_mb: float) -> dict:
    """End-to-end figures of one run() from its manifests and parquet
    footers (driver-side, no Spark job). A wave's commit time is its
    manifest file's mtime: the rename of that file is the commit point,
    while the manifest's own ``committed_at`` is stamped before the
    table writes start."""
    from amazonwebcrawler_spark.sources.state_store import parquet_num_rows

    mdir = os.path.join(store.root, "_manifests")
    waves = []
    for w in store.committed_waves():
        at = os.path.getmtime(os.path.join(mdir, f"manifest-{w}.json"))
        if at >= t0 and w >= 0:
            waves.append((at, store._manifest(w)))
    intervals, prev = [], t0
    for at, _m in waves:
        intervals.append(at - prev)
        prev = at
    rows = {
        t: sum(parquet_num_rows(m["tables"][t]) for _at, m in waves if t in m["tables"])
        for t in ("lineage", "images")
    }
    return {
        "wall": wall,
        "fetch_rows": rows["lineage"],
        "image_rows": rows["images"],
        "wave_intervals": intervals,
        "resume_s": intervals[0] if intervals else float("nan"),
        "peak_rss_mb": peak_mb,
    }


class Bench:
    def __init__(self, spark, wl, seed: int, work: str):
        import workloads as W

        self.W = W
        self.spark, self.wl, self.seed, self.work = spark, wl, seed, work
        self.rows = wl.seed_rows(seed)
        self.run_root = os.path.join(work, "run")
        self.pristine: str | None = None
        self.oracle = None  # tests.oracle.OracleResult, set before timing
        self.bloom_cfg = W.capacity_bloom(wl)

    def cfg(self):
        return self.wl.config(self.run_root, self.bloom_cfg)

    def setup(self) -> dict[str, float]:
        """Builds the checkpoint every timed run resumes from; returns the
        phases' seconds by name."""
        self.pristine, phases = self.W.build_checkpoint(self.spark, self.wl, self.rows, self.seed, self.work)
        return phases

    def timed_run(self) -> tuple[dict, object]:
        from amazonwebcrawler_spark.plans.crawler import CrawlEngine
        from amazonwebcrawler_spark.sources.seeds import seeds_df

        self.W.restore(self.pristine, self.run_root)
        engine = CrawlEngine(self.spark, self.cfg(), seeds=seeds_df(self.spark, self.rows))
        rss = PeakRss().start()
        t0 = time.time()
        try:
            out = engine.run(resume=True)
        finally:
            wall = time.time() - t0
            peak = rss.stop()
        return _run_metrics(out["store"], t0, wall, peak), out["store"]


def _e2e(runs: list[dict], setup_s: float) -> dict:
    """The gated end-to-end metrics: medians over the timed runs."""
    med = statistics.median
    return {
        "fetch_urls_per_s": (med([r["fetch_rows"] / r["wall"] for r in runs]), "1/s"),
        "image_rows_per_s": (med([r["image_rows"] / r["wall"] for r in runs]), "1/s"),
        "resume_s": (med([r["resume_s"] for r in runs]), "s"),
        "setup_s": (setup_s, "s"),
    }


def _summary(runs: list[dict]) -> dict:
    """End-to-end figures printed but not gated: a timed run is one wave, so
    the wave intervals equal ``resume_s``; peak RSS varies with heap growth
    by more than any bound could allow."""
    intervals = [i for r in runs for i in r["wave_intervals"]]
    return {
        "wave_s_p50": (statistics.median(intervals), "s"),
        "wave_s_max": (statistics.median([max(r["wave_intervals"]) for r in runs]), "s"),
        "peak_rss_mb": (statistics.median(r["peak_rss_mb"] for r in runs), "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = _program_root()
    if root is None:
        print("perfbench: run from the repository root (amazonwebcrawler_spark/ and tests/oracle.py not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    _guard()
    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(root, work)

    t_setup = time.time()
    spark = _start_session(work, bool(args.trace))
    start_s = time.time() - t_setup
    try:
        bench = Bench(spark, wl, args.seed, work)
        phases = bench.setup()
        setup_s = time.time() - t_setup

        t = time.time()
        bench.oracle = wl.oracle(bench.rows)
        oracle_s = time.time() - t

        runs, attempted, failed, mismatches = [], 0, 0, 0
        measured = 0.0
        tracer = None
        if args.trace:
            import layers

            tracer = layers.install(bench)
        while measured < args.seconds:
            attempted += 1
            try:
                r, store = bench.timed_run()
                bad = W.oracle_mismatches(store, bench.oracle)
            except Exception:  # noqa: BLE001 - a raising run is a failed run
                traceback.print_exc()
                failed += 1
                break
            measured += r["wall"]
            mismatches += bad
            if bad:
                failed += 1
                print(f"perfbench: run {attempted} differs from the oracle in {bad} rows", file=sys.stderr)
            else:
                runs.append(r)
            if tracer is not None:
                break  # one traced run; the trace is read from its spans

        layer = None
        if tracer is not None:
            tracer.uninstall()
            if runs:
                layer = layers.from_spans(bench, tracer, runs[0], store, work)
                layer["session.start_s"] = (start_s, "s")
                layer.update({k: (v, "s") for k, v in phases.items()})
                layer["memory.peak_rss_mb"] = (runs[0]["peak_rss_mb"], "MB")
                layer["baseline.oracle_s"] = (oracle_s, "s")
        app_id = spark.sparkContext.applicationId
    finally:
        _stop_session(spark)

    if layer is not None:
        layer.update(layers.from_event_log(tracer, os.path.join(work, "eventlog"), app_id))

    correct = failed == 0 and bool(runs)
    metrics: dict = {}
    if runs:
        e2e = _e2e(runs, setup_s)
        print(
            f"# {wl.name} seed={args.seed}: {len(runs)} timed run(s) of {wl.waves} wave(s), "
            f"oracle_mismatches={mismatches} failed_ratio={failed / attempted:.3f} "
            f"baseline.oracle_s={oracle_s:.3f} (engine run() median {statistics.median(r['wall'] for r in runs):.3f} s)"
        )
        for k, (v, unit) in {**e2e, **_summary(runs)}.items():
            print(f"{k:24s} {v:14.4f} {unit}")
        chosen = layer if layer is not None else e2e
        if layer is not None:
            for k, (v, unit) in sorted(layer.items()):
                print(f"{k:40s} {v:16.4f} {unit}")
        metrics = {k: {"value": float(v), "unit": unit} for k, (v, unit) in chosen.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
