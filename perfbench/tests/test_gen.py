"""Generator self-check: the same seed gives byte-identical inputs, and
every seed gives each workload the same shape.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import re

import pandas as pd
import pytest

import gen

SEEDS = [1, 2, 7, 42]  # 42 and 2/7 draw different hot-host crawl-delays


def _digest(*frames: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for df in frames:
        h.update(df.to_csv(index=False).encode())
    return h.hexdigest()


def _canonical(raw: str) -> str:
    """The generator's spelling rules undone: lower-case scheme and
    host, drop the default port and the fragment, sort the query."""
    m = re.match(r"^([A-Za-z]+)://([^/:]+)(?::443)?(/[^?#]*)\?([^#]*)", raw)
    scheme, host, path, query = m.groups()
    return f"{scheme.lower()}://{host.lower()}{path}?{'&'.join(sorted(query.split('&')))}"


def _stream(seed: int, n_batches: int):
    g = gen.StreamGenerator(seed)
    return g.history(), [g.batch(b) for b in range(1, n_batches + 1)]


@pytest.mark.parametrize("seed", [1, 42])
def test_same_seed_same_bytes(seed):
    a, b = gen.crawl_inputs(seed), gen.crawl_inputs(seed)
    assert _digest(a.pages, a.seeds) == _digest(b.pages, b.seeds)
    assert gen.crawl_expected(a) == gen.crawl_expected(b)
    (ha, ba), (hb, bb) = _stream(seed, 4), _stream(seed, 4)
    assert _digest(ha.frame, *[x.frame for x in ba]) == _digest(hb.frame, *[x.frame for x in bb])


def test_seeds_differ():
    assert _digest(_stream(1, 1)[1][0].frame) != _digest(_stream(2, 1)[1][0].frame)
    assert _digest(gen.crawl_inputs(1).pages) != _digest(gen.crawl_inputs(2).pages)


@pytest.mark.parametrize("seed", SEEDS)
def test_crawl_shape(seed):
    c = gen.crawl_inputs(seed)
    # hot-host budget per wave is fixed whatever crawl-delay the seed drew
    assert c.wave_seconds // c.hot_delay_s == gen.CRAWL_BUDGET
    # equal chains: CRAWL_PAGES pages plus the terminal fetch each
    # the gate never defers: no wave holds more chains than the budget
    assert len(c.seeds) == gen.CRAWL_SEEDS <= gen.CRAWL_BUDGET
    fetches, _emissions = gen.crawl_expected(c)
    assert len(fetches) == gen.CRAWL_SEEDS * (gen.CRAWL_PAGES + 1)
    assert list(c.seeds["seed_index"]) == list(range(gen.CRAWL_SEEDS))


@pytest.mark.parametrize("seed", SEEDS)
def test_stream_shape(seed):
    E = gen.STREAM_REBUILD_EVERY
    hist, batches = _stream(seed, 2 * E + 1)
    assert len(hist.frame) == len(set(hist.fresh)) == gen.STREAM_HISTORY
    assert set(hist.frame["url"].map(_canonical)) == set(hist.fresh)
    scheduled = set(hist.fresh)
    for b in batches:
        canon = b.frame["url"].map(_canonical)
        fresh = set(b.fresh)
        assert len(fresh) == len(b.fresh)
        assert not fresh & scheduled
        # re-discoveries come only from URLs the program already scheduled
        old = canon[~canon.isin(fresh)]
        assert len(old) == gen.STREAM_REDISCOVERED and old.isin(scheduled).all()
        # in-batch duplicates: a second spelling of some fresh URLs
        assert canon.isin(fresh).sum() == len(fresh) + gen.STREAM_IN_BATCH_DUPS
        # the same scheduled count every batch; the hot-host carry
        # follows the cycle position and is empty at each cycle's end
        pos = (b.batch_id - 1) % E
        assert b.expected_scheduled == gen.STREAM_BUDGET + gen.STREAM_COLD_FRESH
        assert (b.expected_deferred == 0) == (pos == E - 1)
        cold = [u for u in fresh if not u.startswith(f"https://{gen.HOT_HOST}/")]
        assert len(cold) == gen.STREAM_COLD_FRESH
        if pos == E - 1:
            scheduled |= {u for x in batches[b.batch_id - E : b.batch_id] for u in x.fresh}
    # raw spellings carry ports, fragments, unsorted queries and upper case
    raw = batches[0].frame["url"]
    for pattern in (":443/", "#frag", r"\?offset=", "^HTTPS://"):
        assert raw.str.contains(pattern).any()
