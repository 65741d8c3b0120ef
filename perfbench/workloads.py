"""The benchmark workloads.  Each one sets up through the program's
public functions, warms up untimed, runs whole units of work (crawls,
rebuild cycles of micro-batches) and checks every unit's output against
an answer derived from the generator.  A run does as many units as fit
the requested seconds at the unit's nominal duration on a 4-core box,
and at least one, so that every run of a workload does the same work.

Layers are timed only from outside, around calls into each module's
public functions.  With ``traced`` set, a step also materialises the
layer boundaries it can reach (the wave loop's injectable fetcher and
store, or the stream's canonicalize, Bloom and gate functions replayed
on the batch), which untraced steps never do.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import gen
from probes import SparkCounters, dir_bytes_files, median
from crawler_apple_podcast_spark.datagen.corpus import to_spark
from crawler_apple_podcast_spark.functions.urls import canonicalize_url
from crawler_apple_podcast_spark.operators.bloom import (
    bloom_gated_anti_join,
    build_bloom_shards,
    probe_bloom,
)
from crawler_apple_podcast_spark.operators.politeness import politeness_gate
from crawler_apple_podcast_spark.plans.snapshots import SnapshotStore
from crawler_apple_podcast_spark.plans.wave_loop import (
    WaveConfig,
    make_join_fetcher,
    run_crawl,
)
from crawler_apple_podcast_spark.streaming.frontier_stream import (
    StreamConfig,
    process_candidate_batch,
    reset_seen_state,
    seen_state_stats,
)


@dataclass
class Phase:
    """What one timed phase measured."""

    steps: list[float] = field(default_factory=list)  # seconds per step
    completed: int = 0        # URLs fetched (crawl) or scheduled (stream)
    busy_s: float = 0.0       # time inside the program's calls
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    errors: list[dict] = field(default_factory=list)  # what the failed checks found


def units(seconds: float, unit_s: float) -> int:
    """Whole units of work that fit ``seconds`` at ``unit_s`` each, at least one."""
    return max(1, round(seconds / unit_s))


def _spark_means(counters: list, layers: dict) -> None:
    n = max(1, len(counters))
    layers["spark.jobs"] = sum(c.jobs for c in counters) / n
    layers["spark.tasks"] = sum(c.tasks for c in counters) / n
    layers["spark.shuffle_write_bytes"] = sum(c.shuffle_write_bytes for c in counters) / n
    layers["spark.gc_s"] = sum(c.gc_s for c in counters) / n


# ---------------------------------------------------------------- crawl_waves


class _TimedStore:
    """SnapshotStore wrapper that marks each wave's end at its commit
    and, when traced, times the commit and measures what it wrote."""

    def __init__(self, store: SnapshotStore, counters: SparkCounters | None):
        self._store = store
        self._counters = counters
        self.t0 = time.perf_counter()
        self.wave_ends: list[float] = []
        self.commit_s: list[float] = []
        self.bytes: list[int] = []
        self.files: list[int] = []
        self.step_counters: list = []
        self.scheduled = 0
        self.deferred = 0
        self.episodes = 0
        self.probe_s = 0.0    # traced-only work inside a wave, subtracted from it

    def __getattr__(self, name):
        return getattr(self._store, name)

    def waves(self) -> list[float]:
        return [b - a for a, b in zip([self.t0] + self.wave_ends, self.wave_ends)]

    def commit_wave(self, wave, tables, metrics=None):
        t0 = time.perf_counter()
        out = self._store.commit_wave(wave, tables, metrics)
        t1 = time.perf_counter()
        if self._counters is not None:
            self.commit_s.append(t1 - t0)
            self.step_counters.append(self._counters.stop())
            b = f = 0
            for name in tables:
                nb, nf = dir_bytes_files(self._store._data_dir(name, wave))
                b, f = b + nb, f + nf
            self.bytes.append(b)
            self.files.append(f)
            # Deferred rows re-enter the next frontier with their old
            # priority; new cursors carry priority wave + 1.
            frontier = self._store.read_wave("frontier", wave)
            self.deferred += frontier.where(F.col("priority") <= wave).count()
            self.scheduled += self._store.read_wave("fetch_log", wave).count()
            self.episodes += self._store.read_wave("episodes", wave).count()
            self._counters.start()
            self.probe_s += time.perf_counter() - t1
        self.wave_ends.append(time.perf_counter() - self.probe_s)
        return out


class _TimedFetcher:
    """Materialises the fetch join so its time and hit ratio show."""

    def __init__(self, pages, store: _TimedStore, counters: SparkCounters):
        self._fetch = make_join_fetcher(pages)
        self._store, self._counters = store, counters
        self.fetch_s: list[float] = []
        self.rows = 0
        self.hits = 0

    def __call__(self, wave_side):
        t0 = time.perf_counter()
        fetched = self._fetch(wave_side).localCheckpoint()
        t1 = time.perf_counter()
        self.fetch_s.append(t1 - t0)
        with self._counters.paused():
            self.rows += fetched.count()
            self.hits += fetched.where(F.col("html").isNotNull()).count()
        self._store.probe_s += time.perf_counter() - t1
        return fetched


class CrawlWaves:
    """``run_crawl`` with politeness and a SnapshotStore, to frontier
    exhaustion, over a generated Apple-Podcasts corpus.  A step is a wave."""

    UNIT_S = 16.0  # nominal seconds of one timed crawl (CRAWL_PAGES + 1 waves)

    # Untimed waves of one partial crawl before timing: the first waves
    # of a fresh JVM run several times slower than steady state.
    WARMUP_WAVES = 2

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self._n_crawls = 0
        self.pages = None

    def setup(self) -> None:
        inputs = gen.crawl_inputs(self.seed)
        pages, seeds = to_spark(self.spark, inputs.pages, inputs.seeds)
        pages, seeds = pages.cache(), seeds.cache()
        pages.count()
        seeds.count()
        if self.pages is not None:
            self.pages.unpersist()
            self.seeds.unpersist()
        self.inputs, self.pages, self.seeds = inputs, pages, seeds
        self.cfg = WaveConfig(wave_seconds=inputs.wave_seconds)
        self.expected = None  # the oracle's answer, computed at the first check

    def _crawl(self, cfg: WaveConfig, counters: SparkCounters | None):
        self._n_crawls += 1
        root = os.path.join(self.work, f"crawl-{self._n_crawls}")
        store = _TimedStore(SnapshotStore(self.spark, root), counters)
        fetcher = None
        if counters is not None:
            fetcher = _TimedFetcher(self.pages, store, counters)
            counters.start()
        store.t0 = time.perf_counter()
        out = run_crawl(self.spark, self.pages, self.seeds, cfg, store=store, fetcher=fetcher)
        wall = time.perf_counter() - store.t0 - store.probe_s
        if counters is not None:
            counters.stop()
        return root, store, fetcher, out, wall

    def warmup(self) -> None:
        cfg = WaveConfig(wave_seconds=self.cfg.wave_seconds, max_waves=self.WARMUP_WAVES)
        root, *_ = self._crawl(cfg, None)
        shutil.rmtree(root)

    def _check(self, out, ph: Phase) -> bool:
        """The fetch set and emission count equal the sequential oracle's;
        any difference is recorded in ``ph.errors``."""
        if self.expected is None:
            self.expected = gen.crawl_expected(self.inputs)
        want_fetches, want_emissions = self.expected
        log = out.fetch_log.select("seed_index", "fetch_url").collect()
        fetched = {(r.seed_index, r.fetch_url) for r in log}
        emissions = out.episodes.count()
        err = {
            "fetched_twice": len(log) - len(fetched),
            "missing": len(want_fetches - fetched),
            "unexpected": len(fetched - want_fetches),
            "emissions": [emissions, want_emissions],
        }
        ok = not (err["fetched_twice"] or err["missing"] or err["unexpected"]) and (
            emissions == want_emissions
        )
        if not ok:
            ph.errors.append(err)
        ph.completed += len(log)
        return ok

    def run(self, seconds: float, traced: bool) -> Phase:
        ph = Phase()
        counters = SparkCounters(self.spark) if traced else None
        fetch_s, commit_s, self_s, bytes_, files, steps_c = [], [], [], [], [], []
        rows = hits = sched = deferred = episodes = 0
        for _ in range(units(seconds, self.UNIT_S)):
            try:
                root, store, fetcher, out, wall = self._crawl(self.cfg, counters)
            except Exception as e:  # a crawl that raises is a failed step; go on
                ph.attempted += 1
                ph.failed += 1
                ph.errors.append({"raised": repr(e)[:500]})
                continue
            waves = store.waves()
            ok = self._check(out, ph)
            ph.steps += waves
            ph.attempted += len(waves)
            ph.failed += 0 if ok else len(waves)
            ph.busy_s += wall
            if traced:
                fetch_s += fetcher.fetch_s
                commit_s += store.commit_s
                self_s += [w - f - c for w, f, c in zip(waves, fetcher.fetch_s, store.commit_s)]
                bytes_ += store.bytes
                files += store.files
                steps_c += store.step_counters
                rows, hits = rows + fetcher.rows, hits + fetcher.hits
                sched, deferred = sched + store.scheduled, deferred + store.deferred
                episodes += store.episodes
            shutil.rmtree(root)
        if traced:
            L = ph.layers
            L["wave_loop.self_s"] = median(self_s)
            L["wave_loop.fetch_s"] = median(fetch_s)
            L["wave_loop.fetch_hit_ratio"] = hits / max(1, rows)
            L["wave_loop.jobs_per_wave"] = median([c.jobs for c in steps_c])
            L["wave_loop.tasks_per_wave"] = median([c.tasks for c in steps_c])
            L["snapshots.commit_s"] = median(commit_s)
            L["snapshots.bytes_per_wave"] = median(bytes_)
            L["snapshots.files_per_wave"] = median(files)
            L["politeness.deferred_ratio"] = deferred / max(1, sched + deferred)
            L["episodes.rows_per_wave"] = episodes / max(1, len(ph.steps))
            _spark_means(steps_c, L)
        return ph


# --------------------------------------------------------------- stream_admit


@dataclass
class _LayerProbe:
    """Per-batch layer timings, replayed on the batch's candidates with
    each boundary materialised (traced runs only)."""

    canonicalize_s: list[float] = field(default_factory=list)
    rows: list[int] = field(default_factory=list)
    build_s: list[float] = field(default_factory=list)
    probe_confirm_s: list[float] = field(default_factory=list)
    confirm_bytes: list[int] = field(default_factory=list)
    gate_s: list[float] = field(default_factory=list)
    gate_bytes: list[int] = field(default_factory=list)
    suspects: int = 0
    in_base: int = 0
    probed: int = 0
    scheduled: int = 0
    deferred: int = 0
    design_fp: float = 0.0


class StreamAdmit:
    """Discovery micro-batches through ``process_candidate_batch``
    against a seen history admitted through the program before timing.
    Batches carry re-discovered URLs and second spellings of their own
    fresh URLs.  A step is a micro-batch; timing covers whole rebuild
    cycles."""

    E = gen.STREAM_REBUILD_EVERY
    UNIT_S = 20.0  # nominal seconds of one timed rebuild cycle

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self._n_setups = 0
        self.root = None
        self.history = None

    def _load(self, batch: gen.StreamBatch):
        df = self.spark.createDataFrame(
            batch.frame, "url STRING, priority INT, discovered_ts TIMESTAMP"
        ).cache()
        df.count()
        return df

    def _dir(self, kind: str, batch_id: int) -> str:
        base = self.cfg.resolved_carry_dir() if kind == "carry" else getattr(self.cfg, f"{kind}_dir")
        return f"{base}/batch_id={batch_id}"

    def _check_batch(self, batch: gen.StreamBatch, ph: Phase | None) -> bool:
        read = self.spark.read.parquet
        got = (read(self._dir("out", batch.batch_id)).count(),
               read(self._dir("carry", batch.batch_id)).count())
        want = (batch.expected_scheduled, batch.expected_deferred)
        if got != want and ph is not None:
            ph.errors.append({"batch": batch.batch_id, "scheduled_deferred": got, "expected": want})
        return got == want

    def setup(self) -> None:
        """Generate the feed and load its history (batch 0) into Spark."""
        if self.history is not None:
            self.history.unpersist()
        self._n_setups += 1
        self.root = os.path.join(self.work, f"stream-{self._n_setups}")
        self.cfg = StreamConfig(
            seen_dir=f"{self.root}/seen",
            out_dir=f"{self.root}/out",
            checkpoint_dir=f"{self.root}/checkpoint",
            default_budget=gen.STREAM_BUDGET,
            bloom_threshold=gen.STREAM_BLOOM_THRESHOLD,
            rebuild_every=self.E,
        )
        self.gen = gen.StreamGenerator(self.seed)
        self.hist_batch = self.gen.history()
        self.expected = set(self.hist_batch.fresh)
        self.history = self._load(self.hist_batch)
        self.next_batch = 1
        self.probe_state = None

    def warmup(self) -> None:
        """Admit the history through the program with a budget that
        defers none of it, then drop the in-process seen state, as a
        restarted stream would, and run batch 1: the first rebuild from
        disk, with the Bloom gate on.  In a fresh JVM both run several
        times slower than later batches."""
        history_cfg = StreamConfig(**{**self.cfg.__dict__, "default_budget": gen.STREAM_HISTORY})
        process_candidate_batch(self.spark, self.history, 0, history_cfg)
        self.history.unpersist()
        self.history = None
        reset_seen_state(self.cfg.seen_dir)
        self.ok = self._check_batch(self.hist_batch, None)
        *_, ok = self._step(None, None, None)
        self.ok = self.ok and ok

    def _probe(self, df, batch_id: int, counters: SparkCounters, P: _LayerProbe) -> None:
        t0 = time.perf_counter()
        canon = df.select(canonicalize_url(F.col("url")).alias("fetch_url"), "priority").cache()
        n = canon.count()
        P.canonicalize_s.append(time.perf_counter() - t0)
        P.rows.append(n)
        if (batch_id - 1) % self.E == 0 or self.probe_state is None:
            # the program rebuilds its Bloom gate at this batch too
            if self.probe_state is not None:
                self.probe_state[0].unpersist()
            seen = self.spark.read.parquet(self.cfg.seen_dir).select("fetch_url").cache()
            n_seen = seen.count()
            t0 = time.perf_counter()
            bloom = build_bloom_shards(
                seen, "fetch_url", n_shards=self.cfg.bloom_shards, expected_items=n_seen
            )
            P.build_s.append(time.perf_counter() - t0)
            bits = bloom.m_bits * bloom.n_shards
            P.design_fp = (1 - math.exp(-bloom.k * bloom.n_items / bits)) ** bloom.k
            self.probe_state = (seen, bloom)
        seen, bloom = self.probe_state

        caches = []
        counters.start()
        t0 = time.perf_counter()
        fresh = bloom_gated_anti_join(canon, seen, bloom, "fetch_url", cache_registry=caches).cache()
        fresh.count()
        P.probe_confirm_s.append(time.perf_counter() - t0)
        P.confirm_bytes.append(counters.stop().shuffle_write_bytes)
        P.suspects += probe_bloom(canon, bloom, "fetch_url").where("maybe_seen").count()
        P.in_base += canon.join(seen, "fetch_url", "left_semi").count()
        P.probed += n

        counters.start()
        t0 = time.perf_counter()
        scheduled, deferred = politeness_gate(fresh, None, default_budget=self.cfg.default_budget)
        ns, nd = scheduled.count(), deferred.count()
        P.gate_s.append(time.perf_counter() - t0)
        P.gate_bytes.append(counters.stop().shuffle_write_bytes)
        P.scheduled, P.deferred = P.scheduled + ns, P.deferred + nd
        for frame in [canon, fresh] + caches:
            frame.unpersist()

    def _step(self, ph: Phase | None, counters: SparkCounters | None, P: _LayerProbe | None):
        batch = self.gen.batch(self.next_batch)
        self.next_batch += 1
        self.expected.update(batch.fresh)
        df = self._load(batch)
        if P is not None:
            self._probe(df, batch.batch_id, counters, P)
            counters.start()
        before = seen_state_stats(self.cfg.seen_dir)["n_rebuilds"]
        t0 = time.perf_counter()
        process_candidate_batch(self.spark, df, batch.batch_id, self.cfg)
        dt = time.perf_counter() - t0
        c = counters.stop() if counters is not None else None
        rebuilt = seen_state_stats(self.cfg.seen_dir)["n_rebuilds"] > before
        df.unpersist()
        return batch, dt, rebuilt, c, self._check_batch(batch, ph)

    def _check_final(self, ph: Phase) -> bool:
        """One exact query over everything the stream wrote: no URL
        scheduled twice, and scheduled plus still-carried URLs are
        exactly the distinct fresh URLs generated so far."""
        read = self.spark.read.parquet
        sched = [r.fetch_url for r in read(self.cfg.out_dir).select("fetch_url").collect()]
        carry = {r.fetch_url for r in read(self._dir("carry", self.next_batch - 1)).collect()}
        got = set(sched)
        err = {
            "scheduled_twice": len(sched) - len(got),
            "scheduled_and_carried": len(got & carry),
            "missing": len(self.expected - got - carry),
            "unexpected": len((got | carry) - self.expected),
        }
        if any(err.values()) or not self.ok:
            ph.errors.append({**err, "set_up_and_warm_up_ok": self.ok})
            return False
        return True

    def run(self, seconds: float, traced: bool) -> Phase:
        ph = Phase()
        counters = SparkCounters(self.spark) if traced else None
        P = _LayerProbe() if traced else None
        tail, rebuild, growth, sink, step_c = [], [], [], [], []
        for _ in range(units(seconds, self.UNIT_S)):
            for _ in range(self.E):
                try:
                    batch, dt, rebuilt, c, ok = self._step(ph, counters, P)
                except Exception as e:  # a batch that raises is a failed step; go on
                    ph.attempted += 1
                    ph.failed += 1
                    ph.errors.append({"raised": repr(e)[:500]})
                    continue
                ph.steps.append(dt)
                ph.busy_s += dt
                ph.completed += batch.expected_scheduled
                ph.attempted += 1
                ph.failed += 0 if ok else 1
                if traced:
                    (rebuild if rebuilt else tail).append(dt)
                    if not rebuilt:
                        growth.append(((batch.batch_id - 1) % self.E, dt))
                    sink.append(sum(dir_bytes_files(self._dir(k, batch.batch_id))[0] for k in ("out", "seen", "carry")))
                    step_c.append(c)
        if not self._check_final(ph):
            ph.failed = ph.attempted
        if traced:
            L = ph.layers
            L["urls.canonicalize_s"] = median(P.canonicalize_s)
            L["urls.rows"] = median(P.rows)
            L["bloom.build_s"] = median(P.build_s)
            L["bloom.probe_confirm_s"] = median(P.probe_confirm_s)
            L["bloom.suspect_ratio"] = P.suspects / max(1, P.probed)
            L["bloom.fp_rate"] = (P.suspects - P.in_base) / max(1, P.probed - P.in_base)
            L["bloom.design_fp_rate"] = P.design_fp
            L["bloom.confirm_shuffle_bytes"] = median(P.confirm_bytes)
            L["politeness.gate_s"] = median(P.gate_s)
            L["politeness.deferred_ratio"] = P.deferred / max(1, P.scheduled + P.deferred)
            L["politeness.shuffle_bytes"] = median(P.gate_bytes)
            L["frontier_stream.tail_batch_s"] = median(tail)
            L["frontier_stream.rebuild_batch_s"] = median(rebuild)
            if len({p for p, _ in growth}) > 1:
                L["frontier_stream.tail_growth_s"] = statistics.linear_regression(
                    [p for p, _ in growth], [t for _, t in growth]
                ).slope
            L["frontier_stream.sink_bytes_per_batch"] = median(sink)
            L["frontier_stream.seen_base_rows"] = seen_state_stats(self.cfg.seen_dir)["n_base"]
            _spark_means(step_c, L)
        return ph


WORKLOADS = {"crawl_waves": CrawlWaves, "stream_admit": StreamAdmit}
