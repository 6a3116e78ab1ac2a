"""Workload inputs, checkpoint set-up and the oracle gate.

Every workload is a function of its seed only: the program receives the
generated seed rows, committed through the engine's public API as the
checkpoint the timed ``run(resume=True)`` reopens, and nothing else.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from amazonwebcrawler_spark.operators import bloom
from amazonwebcrawler_spark.plans.crawler import CrawlConfig, CrawlEngine
from amazonwebcrawler_spark.sources import synthetic_world as world
from amazonwebcrawler_spark.sources.seeds import seeds_df
from amazonwebcrawler_spark.sources.state_store import StateStore


@dataclass(frozen=True)
class Workload:
    name: str
    n_keywords: int
    products: int            # product-page seeds; > 0 also adds one category seed
    max_depth: int
    tokens_per_shard: int
    waves: int               # waves the timed run() executes
    preload: int = 0         # never-generated URLs preloaded into `seen`

    def config(self, checkpoint_dir: str, bloom_cfg: bloom.BloomConfig | None = None) -> CrawlConfig:
        kw = {"bloom": bloom_cfg} if bloom_cfg is not None else {}
        return CrawlConfig(
            checkpoint_dir=checkpoint_dir,
            max_waves=self.waves,
            tokens_per_shard=self.tokens_per_shard,
            **kw,
        )

    def seed_rows(self, seed: int) -> list[tuple]:
        """(seed_id, kind, keyword, url, product_type, max_depth) rows.
        Product and category seeds come first: seed_id is the discovery
        order, so a budget smaller than the seed list defers keywords."""
        rows = []
        for i in range(self.products):
            asin = world.asin_for(f"bench {seed} kw {i}", 1, 1)
            url = f"https://WWW.Amazon.com/dp/{asin}/ref=sr_1_{i}?qid=1"
            rows.append((len(rows), "product", None, url, "yogamat", self.max_depth))
        if self.products:
            rows.append((len(rows), "category", None, world.category_url(f"bench-{seed}") + "?ie=UTF8", "jmcl", self.max_depth))
        for i in range(self.n_keywords):
            kw = f"bench {seed} kw {i}"
            rows.append((len(rows), "keyword", kw, world.serp_url(kw, 1) + "&ref=nb_sb_noss", "yogamat", self.max_depth))
        return rows

    def oracle(self, rows: list[tuple]):
        from tests.oracle import crawl_oracle

        cfg = self.config("unused")
        return crawl_oracle(
            rows,
            n_shards=cfg.n_shards,
            salt_bits=cfg.salt_bits,
            tokens_per_shard=cfg.tokens_per_shard,
            max_waves=cfg.max_waves,
            max_retries=cfg.max_retries,
            follow_items=cfg.follow_items,
            follow_skus=cfg.follow_skus,
            probe_inventory=cfg.probe_inventory,
            early_stop=cfg.early_stop,
        )


WORKLOADS = {
    # the row-proportional side of a wave: one wave that drains a wide
    # frontier of product pages (fetch, parse, image decode, SKU + cart
    # fan-out) and SERPs (~16x item fan-out) on a small seen set; as large
    # as the time budget allows, and still bound by the fixed per-wave cost
    # (README.md gives the measured shares)
    "wide_fanout": Workload("wide_fanout", n_keywords=512, products=8192,
                            max_depth=1, tokens_per_shard=1 << 20, waves=1),
    # a long-lived crawler reopened: a politeness-bound reference-semantics
    # wave (all three entry points, more seeds than the budget, SKU + cart
    # fan-out) resumed on a checkpoint whose seen set holds a large
    # preloaded history
    "resume_big_seen": Workload("resume_big_seen", n_keywords=64, products=32,
                                max_depth=5, tokens_per_shard=16, waves=1,
                                preload=400_000),
}

#: preloaded history lives under ASINs the world never generates (its ASINs
#: all start with "B"), so it can never collide with a crawled URL
PRELOAD_PREFIX = f"{world.HOST}/dp/Z"


def preload_df(spark, seed: int, n: int):
    return spark.range(n).select(
        F.concat(F.lit(f"{PRELOAD_PREFIX}{seed:05d}"), F.lpad(F.col("id").cast("string"), 10, "0")).alias("canonical_url"),
        (-F.col("id") - 1).alias("discovery_seq"),
    )


def capacity_bloom(wl: Workload) -> bloom.BloomConfig | None:
    """Filter sized for the preload plus the crawl, with the engine's
    post-init key tracking (a raw BloomConfig tracks keys, which the
    seen_table confirm mode rejects on merge); None keeps the default."""
    if not wl.preload:
        return None
    raw = bloom.BloomConfig.for_capacity(wl.preload + 100_000, n_buckets=16)
    return wl.config("unused", raw).bloom


def build_checkpoint(spark, wl: Workload, rows: list[tuple], seed: int, work: str) -> tuple[str, dict[str, float]]:
    """The checkpoint a timed run resumes from: the seed commit of ``rows``
    (``CrawlEngine(..., max_waves=0).run()``); with a preload, that commit
    plus ``wl.preload`` URLs unioned into `seen` and merged into the Bloom
    shards, committed as wave -1 under a second root. Returns the pristine
    root and the seconds of each phase (``session.warm_s``: the seed
    commit, the first engine call of the session; ``session.checkpoint_s``:
    the preload)."""
    bcfg = capacity_bloom(wl)
    seed_root = os.path.join(work, "seed_commit")
    pristine = os.path.join(work, "pristine")
    for d in (seed_root, pristine):
        shutil.rmtree(d, ignore_errors=True)
    t = time.time()
    cfg0 = wl.config(seed_root, bcfg)
    cfg0.max_waves = 0
    CrawlEngine(spark, cfg0, seeds=seeds_df(spark, rows)).run()
    phases = {"session.warm_s": time.time() - t, "session.checkpoint_s": 0.0}
    if not wl.preload:
        return seed_root, phases

    t = time.time()
    src = StateStore(spark, seed_root)
    counters = src.latest_manifest()["counters"]
    pre = preload_df(spark, seed, wl.preload)
    shards = bloom.merge_into_shards(
        bloom.with_bloom_keys(pre, "canonical_url", bcfg), src.load_shard_state(), bcfg
    )
    StateStore(spark, pristine).commit_wave(
        -1,
        {
            "frontier": src.load_snapshot("frontier"),
            "shards": shards,
            "seen": src.load_deltas("seen").unionByName(pre),
        },
        {"next_seq": counters["next_seq"]},
        bases={"seen", "shards"},
        partition_cols=CrawlEngine.FRONTIER_PARTITIONING,
    )
    phases["session.checkpoint_s"] = time.time() - t
    return pristine, phases


def restore(pristine: str, run_root: str) -> None:
    """Fresh copy of the pristine checkpoint at ``run_root``. Manifests hold
    absolute table paths, so the copy's wave -1 tables are read from the
    pristine root and only the resumed waves are written under ``run_root``."""
    shutil.rmtree(run_root, ignore_errors=True)
    shutil.copytree(os.path.join(pristine, "_manifests"), os.path.join(run_root, "_manifests"))


# ---------------------------------------------------------------- oracle gate
def oracle_mismatches(store, oracle) -> int:
    """Size of the multiset difference between the engine's lineage
    (wave, canonical_url) and the oracle's fetch order, plus the symmetric
    difference of the seen sets (preloaded history excluded)."""
    from collections import Counter

    got = Counter(
        (r.wave, r.canonical_url)
        for r in store.load_deltas("lineage").select("wave", "canonical_url").collect()
    )
    want = Counter(oracle.fetch_order)
    seen = {
        r.canonical_url
        for r in store.load_deltas("seen")
        .filter(~F.col("canonical_url").startswith(PRELOAD_PREFIX))
        .select("canonical_url")
        .collect()
    }
    return sum(((got - want) + (want - got)).values()) + len(seen ^ oracle.seen)
