"""Per-layer metrics of one traced run (``--trace 1``).

Span figures come from ``tracing.Tracer``; row counts from the committed
tables' parquet footers and a few Spark aggregates run after the timed
region; executor time and shuffle bytes from the Spark event log, attributed
by the plan nodes each stage executed and the wave that submitted it. Every
``*_per_wave`` figure is a mean over the run's waves. The layer → metric →
end-to-end map is in README.md.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import workloads as W
from tracing import EventLog, Tracer, covered, skew

LOADS = {"load_snapshot", "load_deltas", "load_shard_state", "_load_frontier"}
FPR_PROBES = 20_000


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dp, _dns, fns in os.walk(path):
        for f in fns:
            if f.endswith(".parquet"):
                n += 1
            size += os.path.getsize(os.path.join(dp, f))
    return n, size


def install(bench) -> Tracer:
    tracer = Tracer(bench.spark, bench.wl.name)
    tracer.run = 1
    return tracer.install()


def from_spans(bench, tracer: Tracer, r: dict, store, work: str) -> dict:
    """Span- and table-derived layer metrics of the traced run ``r``."""
    from amazonwebcrawler_spark.operators import bloom
    from amazonwebcrawler_spark.sources.state_store import parquet_num_rows

    spark, wl = bench.spark, bench.wl
    tracer.dump(os.path.join(os.path.dirname(work), "traces", f"{wl.name}-seed{bench.seed}.json"))

    waves = tracer.waves(tracer.run)
    n_w = max(1, len(waves))
    in_wave = [s for s in tracer.spans if s.run == tracer.run and s.wave is not None]
    self_s = [tracer.self_time(w) for w in waves]
    # child spans run one after another on the driver thread, so the SUM of
    # their durations plus the wave's self time must equal the wave time
    identity_err = max(
        (abs(sum(c.dur for c in tracer.children(w)) + s - w.dur) for w, s in zip(waves, self_s)),
        default=0.0,
    )

    def per_wave(name: str, attr: str = "dur") -> float:
        return sum(getattr(s, attr) for s in in_wave if s.name == name) / n_w

    loads = [
        s for s in in_wave
        if s.name in LOADS and (s.parent is None or tracer.spans[s.parent].name not in LOADS)
    ]
    seen_loads = [s for s in in_wave if s.name == "load_deltas" and s.info.get("table") == "seen"]

    # ---- committed tables of this run (footers; a few aggregates)
    cfg = bench.cfg()
    mans = {m["wave"]: m for m in (store._manifest(w) for w in store.committed_waves())}
    run_waves = sorted(w.wave for w in waves)
    batch, deferred, new, dirty, files, nbytes = [], [], [], [], [], []
    for wv in run_waves:
        tables = mans[wv]["tables"]
        b = parquet_num_rows(tables["lineage"])
        batch.append(b)
        prev = mans.get(wv - 1)
        if prev is not None:
            deferred.append(prev["counters"]["n_frontier"] - b)
            new.append(mans[wv]["counters"]["next_seq"] - prev["counters"]["next_seq"])
        dirty.append(parquet_num_rows(tables["shards"]) if "shards" in tables else 0)
        fs = [_dir_files(p) for p in tables.values()]
        files.append(sum(f for f, _ in fs))
        nbytes.append(sum(s for _, s in fs))
    attempts = sum(batch)
    status = {
        row["status"]: row["n"]
        for row in store.load_deltas("lineage").groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    dead = sum(parquet_num_rows(m["tables"]["dead_letter"]) for m in mans.values() if "dead_letter" in m["tables"])
    images = store.load_deltas("images")
    img = (
        images.agg(F.count("*").alias("n"), F.sum(F.length("bytes")).alias("b")).collect()[0]
        if images is not None
        else {"n": 0, "b": 0}
    )
    shards = store.load_shard_state()
    state_bytes = shards.agg(F.sum(F.length("bits") + F.length("keys"))).collect()[0][0]
    held_out = spark.range(FPR_PROBES).select(
        F.concat(F.lit(f"{W.world.HOST}/dp/Y{bench.seed:05d}"), F.lpad(F.col("id").cast("string"), 10, "0")).alias("canonical_url")
    )
    fpr = (
        bloom.probe_shards(bloom.with_bloom_keys(held_out, "canonical_url", cfg.bloom), shards, cfg.bloom)
        .agg(F.avg(F.col("maybe_seen").cast("double")))
        .collect()[0][0]
    )
    return {
        "crawler.jobs_per_wave": (_mean(w.jobs for w in waves), "count"),
        "crawler.wave_s": (_mean(w.dur for w in waves), "s"),
        "crawler.self_s_per_wave": (_mean(self_s), "s"),
        "crawler.child_s_per_wave": (_mean(w.dur - s for w, s in zip(waves, self_s)), "s"),
        "trace.identity_err_s": (identity_err, "s"),
        "state_store.commit_s": (per_wave("commit_wave"), "s"),
        "state_store.commit_jobs": (per_wave("commit_wave", "jobs"), "count"),
        "state_store.files_written": (_mean(files), "count"),
        "state_store.bytes_written": (_mean(nbytes), "B"),
        "state_store.load_s": (sum(s.dur for s in loads) / n_w, "s"),
        "state_store.chain_len": (max((s.info["chain_len"] for s in seen_loads), default=0), "count"),
        "state_store.seen_rows_scanned_per_wave": (sum(s.info["rows"] for s in seen_loads) / n_w, "count"),
        "politeness.select_s": (per_wave("select_wave_batch"), "s"),
        "politeness.seq_s": (per_wave("assign_discovery_seq"), "s"),
        "politeness.batch_rows": (_mean(batch), "count"),
        "politeness.deferred_rows": (_mean(deferred), "count"),
        "politeness.budget_fill": (_mean(b / (cfg.tokens_per_shard * cfg.n_shards) for b in batch), "ratio"),
        "urls.new_per_wave": (_mean(new), "count"),
        "urls.fanout_ratio": (sum(new) / attempts if attempts else 0.0, "ratio"),
        "fetch.attempts": (attempts, "count"),
        "fetch.ok_ratio": (status.get(200, 0) / attempts if attempts else 0.0, "ratio"),
        "fetch.retry_rows": (status.get(-1, 0) - dead, "count"),
        "fetch.dead_letters": (dead, "count"),
        "images.rows": (img["n"], "count"),
        "images.bytes": (img["b"] or 0, "B"),
        "bloom.dirty_buckets_per_wave": (_mean(dirty), "count"),
        "bloom.state_bytes": (state_bytes, "B"),
        "bloom.fpr": (fpr, "ratio"),
        # driver-thread time spent inside the wrappers' own bookkeeping over
        # the rest of run(); the event log is written by the JVM's listener
        # thread and is not in this figure
        "trace.overhead_ratio": (tracer.bookkeeping_s / (r["wall"] - tracer.bookkeeping_s), "ratio"),
        "trace.run_s": (r["wall"], "s"),
    }


def from_event_log(tracer: Tracer, log_dir: str, app_id: str) -> dict:
    """Executor-side layer metrics: each completed stage submitted during one
    of the traced run's waves is counted for that wave and classified by the
    plan nodes it executed (see tracing.KINDS)."""
    log = EventLog(log_dir, app_id)
    waves = tracer.waves(tracer.run)
    n_w = max(1, len(waves))
    task_s = dict.fromkeys(("fetch", "decode", "probe", "merge", "expand"), 0.0)
    n_stages, shuffle_w, shuffle_r, skews, idle = 0, 0, 0, [], []
    for w in waves:
        for st in log.stages.values():
            if not w.t0 <= st.submitted <= w.t1:
                continue
            n_stages += 1
            shuffle_w += st.shuffle_write
            shuffle_r += st.shuffle_read
            if st.kind in task_s:
                task_s[st.kind] += sum(st.task_s)
            # the stages partitioned by host_shard: the politeness ranking
            # window and the fetch, whose input is repartitioned into one
            # task per host shard
            if st.kind in ("rank", "fetch") and (k := skew(st.task_s)) is not None:
                skews.append(k)
        jobs = [(j.submitted, j.completed) for j in log.jobs.values() if w.t0 <= j.submitted <= w.t1]
        idle.append(w.dur - covered(w.t0, w.t1, jobs))
    return {
        "crawler.stages_per_wave": (n_stages / n_w, "count"),
        "crawler.idle_s_per_wave": (_mean(idle), "s"),
        "fetch.task_s": (task_s["fetch"], "s"),
        "urls.expand_task_s": (task_s["expand"], "s"),
        "images.decode_task_s": (task_s["decode"], "s"),
        "bloom.probe_task_s": (task_s["probe"], "s"),
        "bloom.merge_task_s": (task_s["merge"], "s"),
        "politeness.shard_skew": (max(skews, default=1.0), "ratio"),
        "shuffle.write_bytes_per_wave": (shuffle_w / n_w, "B"),
        "shuffle.read_bytes_per_wave": (shuffle_r / n_w, "B"),
    }
