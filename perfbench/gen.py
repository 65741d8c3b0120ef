"""Seeded input generators for the benchmark workloads.

Pure Python and NumPy, no Spark: the same seed gives byte-identical
inputs (checked by ``tests/test_gen.py``).  Each workload's inputs come
with the answer its check compares against: the sequential oracle for
``crawl_waves``, a closed form per micro-batch for ``stream_admit``.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from crawler_apple_podcast_spark import oracle
from crawler_apple_podcast_spark.datagen import CorpusParams, generate_corpus

HOT_HOST = "amp-api.podcasts.apple.com"

# ---------------------------------------------------------------- crawl_waves

# Every crawled show has CRAWL_PAGES pages, so every chain is
# CRAWL_PAGES + 1 sequential fetches (the last one is the reference's
# terminal fetch of the bare API base) and a crawl is CRAWL_PAGES + 1
# waves on every seed.  The hot-host budget per wave equals the number
# of chains, so the politeness gate ranks every wave's frontier and
# defers none of it: every chain ends on the same bare-base fetch_url,
# and politeness_gate splits such tied rows between scheduled and
# deferred nondeterministically when its cut falls among them (see
# README.md, "Open defect").
CRAWL_PAGES = 3
CRAWL_SEEDS = 100
CRAWL_BUDGET = CRAWL_SEEDS
CRAWL_SHOWS = 450  # generated; the crawl takes the first CRAWL_SEEDS with CRAWL_PAGES pages


@dataclass
class CrawlInputs:
    pages: pd.DataFrame         # url, warc_ts, html, text, lang
    seeds: pd.DataFrame         # seed_index, url, batch_id
    wave_seconds: int           # gives the hot host CRAWL_BUDGET fetches per wave
    hot_delay_s: int            # the hot host's generated robots crawl-delay


def hot_crawl_delay(pages: pd.DataFrame) -> int:
    body = pages.loc[pages["url"] == f"https://{HOT_HOST}/robots.txt", "text"].iloc[0]
    return int(re.search(r"Crawl-delay:\s*([0-9]+)", body).group(1))


def crawl_inputs(seed: int) -> CrawlInputs:
    """A generated corpus and CRAWL_SEEDS of its shows as seeds.  Shows
    0-3 carry the corpus' edge cases, whose chain lengths vary with the
    seed, so the seeds are taken from show 4 on."""
    pages, seeds = generate_corpus(
        CorpusParams(seed=seed, n_shows=CRAWL_SHOWS, max_pages_per_show=CRAWL_PAGES)
    )
    api = pages["url"].str.extract(r"/podcasts/(\d+)/episodes")[0].dropna()
    n_pages = api.value_counts()
    show_id = seeds["url"].str.extract(r"/podcasts/(\d+)/episodes")[0]
    full = seeds[(seeds["seed_index"] >= 4) & (show_id.map(n_pages) == CRAWL_PAGES)]
    if len(full) < CRAWL_SEEDS:
        raise ValueError(f"seed {seed}: only {len(full)} shows of {CRAWL_PAGES} pages")
    seeds = full.head(CRAWL_SEEDS).reset_index(drop=True)
    seeds["seed_index"] = seeds.index.astype("int32")
    delay = hot_crawl_delay(pages)
    return CrawlInputs(pages, seeds, wave_seconds=CRAWL_BUDGET * delay, hot_delay_s=delay)


def crawl_expected(c: CrawlInputs) -> tuple[set[tuple[int, str]], int]:
    """The sequential oracle's fetch set ``{(seed_index, fetch_url)}``
    and emission count on the same corpus."""
    ref = oracle.crawl(c.seeds["url"].tolist(), dict(zip(c.pages["url"], c.pages["html"])))
    return {(s, u) for s, u, _hit in ref.fetch_log}, len(ref.emissions)


# --------------------------------------------------------------- stream_admit

STREAM_HISTORY = 24_000          # seen URLs admitted through the program in set-up
STREAM_BLOOM_THRESHOLD = 20_000  # so the Bloom gate is on from the first rebuild
STREAM_REBUILD_EVERY = 4         # micro-batches per seen-state rebuild cycle
STREAM_BUDGET = 8_000            # per-host admissions per micro-batch
# Fresh hot-host URLs per batch by position in the rebuild cycle, as a
# multiple of the budget: the burst at the cycle start is partly
# deferred and the carry drains to zero by the cycle's end, so the
# backlog does not grow over a run.
STREAM_HOT_SHAPE = (1.375, 0.875, 0.875, 0.875)
STREAM_COLD_FRESH = 2_000        # fresh URLs per batch over the cold hosts
STREAM_REDISCOVERED = 12_000     # already-seen URLs sent again per batch
STREAM_IN_BATCH_DUPS = 6_000     # second spellings of this batch's fresh URLs
COLD_HOSTS = 1000


def _canonical(host: str, n: int, offset: int) -> str:
    return f"https://{host}/p/{n}?l=en-US&offset={offset}"


def _raw(host: str, n: int, offset: int, variant: int) -> str:
    """A raw spelling of ``_canonical(host, n, offset)``: the default
    port, the fragment, the query order and the scheme and host case
    vary with ``variant``."""
    q = f"offset={offset}&l=en-US" if variant % 2 == 0 else f"l=en-US&offset={offset}"
    port = ":443" if variant % 3 != 2 else ""
    frag = "#frag" if variant % 4 != 3 else ""
    scheme, h = ("HTTPS", host.upper()) if variant % 5 == 4 else ("https", host)
    return f"{scheme}://{h}{port}/p/{n}?{q}{frag}"


@dataclass
class StreamBatch:
    batch_id: int
    frame: pd.DataFrame         # url, priority, discovered_ts
    fresh: list[str]            # canonical URLs first discovered in this batch
    expected_scheduled: int
    expected_deferred: int      # the carry this batch leaves


@dataclass
class StreamGenerator:
    """Deterministic discovery feed.  Batch 0 is the seen history.  The
    stream restarts after it, so its seen state is rebuilt at batch 1
    and then every ``STREAM_REBUILD_EVERY`` batches: batch ``b`` sits at
    position ``(b - 1) % STREAM_REBUILD_EVERY`` of its rebuild cycle.
    Re-discoveries are drawn only from URLs already scheduled (the
    history and finished cycles), so each batch's scheduled and
    deferred counts follow in closed form from the carry."""

    seed: int
    _next_id: int = 0
    _carry: int = 0
    _admitted: list[str] = field(default_factory=list)   # safe to re-discover
    _cycle_fresh: list[str] = field(default_factory=list)

    def _rng(self, batch_id: int) -> np.random.Generator:
        digest = hashlib.md5(f"stream:{self.seed}:{batch_id}".encode()).digest()
        return np.random.default_rng(int.from_bytes(digest[:8], "big"))

    def _fresh(self, rng: np.random.Generator, n: int, hot: bool) -> list[tuple[str, int, int]]:
        ids = range(self._next_id, self._next_id + n)
        self._next_id += n
        offsets = rng.integers(0, 97, n)
        if hot:
            hosts = [HOT_HOST] * n
        else:
            hosts = [f"h{h}.example" for h in rng.integers(0, COLD_HOSTS, n)]
        return list(zip(hosts, ids, offsets.tolist()))

    def _frame(self, rng: np.random.Generator, raws: list[str], batch_id: int) -> pd.DataFrame:
        order = rng.permutation(len(raws))
        ts = pd.Timestamp("2024-05-23", tz="UTC") + pd.Timedelta(seconds=batch_id)
        return pd.DataFrame(
            {
                "url": [raws[i] for i in order.tolist()],
                "priority": rng.integers(0, 5, len(raws)).astype("int32"),
                "discovered_ts": ts,
            }
        )

    def history(self) -> StreamBatch:
        """Batch 0: STREAM_HISTORY distinct URLs, 90% on the hot host,
        all admitted (the set-up runs it with a budget that defers none)."""
        rng = self._rng(0)
        n_hot = STREAM_HISTORY * 9 // 10
        items = self._fresh(rng, n_hot, True) + self._fresh(rng, STREAM_HISTORY - n_hot, False)
        variants = rng.integers(0, 60, len(items)).tolist()
        fresh = [_canonical(h, n, o) for h, n, o in items]
        self._admitted.extend(fresh)
        raws = [_raw(h, n, o, v) for (h, n, o), v in zip(items, variants)]
        return StreamBatch(0, self._frame(rng, raws, 0), fresh, len(fresh), 0)

    def batch(self, batch_id: int) -> StreamBatch:
        """One discovery micro-batch: fresh URLs (hot burst by cycle
        position, a fixed number on cold hosts), a second spelling of
        some of them, and re-discoveries of already-scheduled URLs."""
        pos = (batch_id - 1) % STREAM_REBUILD_EVERY
        if pos == 0:
            self._admitted.extend(self._cycle_fresh)
            self._cycle_fresh = []
        rng = self._rng(batch_id)
        n_hot = int(STREAM_HOT_SHAPE[pos] * STREAM_BUDGET)
        items = self._fresh(rng, n_hot, True) + self._fresh(rng, STREAM_COLD_FRESH, False)
        variants = rng.integers(0, 60, len(items)).tolist()
        raws = [_raw(h, n, o, v) for (h, n, o), v in zip(items, variants)]
        dup = rng.choice(len(items), STREAM_IN_BATCH_DUPS, replace=False)
        raws += [_raw(*items[i], variants[i] + 1) for i in dup.tolist()]
        old = rng.choice(len(self._admitted), STREAM_REDISCOVERED, replace=False)
        raws += [self._admitted[i] for i in old.tolist()]
        fresh = [_canonical(h, n, o) for h, n, o in items]
        self._cycle_fresh.extend(fresh)

        # Cold hosts get about two fresh URLs each, far under the
        # budget; the hot host's carry plus fresh URLs is cut at it.
        hot_pending = self._carry + n_hot
        sched_hot = min(STREAM_BUDGET, hot_pending)
        self._carry = hot_pending - sched_hot
        return StreamBatch(
            batch_id,
            self._frame(rng, raws, batch_id),
            fresh,
            expected_scheduled=sched_hot + STREAM_COLD_FRESH,
            expected_deferred=self._carry,
        )
