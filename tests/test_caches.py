"""caches.Memo: the one memoizer behind every derived lake frame.

Locks the keying on (applicationId, sf_dir, *extra), memoized None as a
hit, FIFO eviction with an unpersist that may raise, the release counts of
Memo.release and clear_caches, and that clear_caches really unpersists a
dedup op's frames.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from guidance_for_sap_data_integration_and_management_on_aws_spark import caches


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


class _Frame:
    def __init__(self, raises: bool = False):
        self.raises = raises
        self.unpersisted = False

    def unpersist(self):
        if self.raises:
            raise RuntimeError("session already stopped")
        self.unpersisted = True


@pytest.fixture
def memo():
    m = caches.Memo()
    yield m
    caches._MEMOS.remove(m)


def test_memo_keys_on_session_dir_and_extra(memo):
    calls = []

    def build(val):
        def b():
            calls.append(val)
            return val

        return b

    a, b = _session("app-a"), _session("app-b")
    assert memo.get_or_build(a, "/d", build("k2"), 2) == "k2"
    assert memo.get_or_build(a, "/d", build("again"), 2) == "k2"  # hit
    assert memo.get_or_build(a, "/d", build("k3"), 3) == "k3"  # extra keys
    assert memo.get_or_build(b, "/d", build("b2"), 2) == "b2"  # new session
    assert list(memo) == [("app-a", "/d", 2), ("app-a", "/d", 3), ("app-b", "/d", 2)]
    assert calls == ["k2", "k3", "b2"]
    # a memoized None is a hit: the build runs once
    assert memo.get_or_build(a, "/wide", build(None)) is None
    assert memo.get_or_build(a, "/wide", build("rebuilt")) is None
    assert calls == ["k2", "k3", "b2", None]


def test_memo_evicts_oldest_first_and_swallows_unpersist_errors(memo):
    s = _session("app")
    frames = [_Frame(raises=(i == 0)) for i in range(caches.CACHE_MAX_ENTRIES + 1)]
    for i, f in enumerate(frames[:-1]):
        memo.get_or_build(s, f"/dir{i}", lambda f=f: f)
    # the oldest entry's unpersist raises; the insert still succeeds
    memo.get_or_build(s, "/new", lambda: frames[-1])
    assert ("app", "/dir0") not in memo
    assert len(memo) == caches.CACHE_MAX_ENTRIES
    memo.get_or_build(s, "/newer", _Frame)
    assert ("app", "/dir1") not in memo and frames[1].unpersisted
    assert not any(f.unpersisted for f in frames[2:])


def test_release_and_clear_caches_count_entries(memo):
    s = _session("app")
    kept, dropped = _Frame(), [_Frame(), _Frame()]
    memo.get_or_build(s, "/memo-test/a", lambda: dropped[0], 1)
    memo.get_or_build(s, "/memo-test/a", lambda: dropped[1], 2)
    memo.get_or_build(s, "/memo-test/b", lambda: kept)
    memo.get_or_build(s, "/memo-test/c", lambda: None)  # non-frame value
    assert memo.release("/memo-test/a") == 2
    assert all(f.unpersisted for f in dropped) and not kept.unpersisted
    assert memo.release("/memo-test/none") == 0
    assert caches.clear_caches("/memo-test/b") == 1 and kept.unpersisted
    assert memo.release() == 1  # None releases everything left
    assert not memo


def test_clear_caches_unpersists_a_dedup_ops_frames(spark, sf_dir):
    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators import dedup

    dedup.dedup_incremental_jaccard.builder(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    key = (spark.sparkContext.applicationId, sf_dir)
    toks = dedup._TOKEN_CACHE[key]
    assert toks.is_cached
    assert caches.clear_caches(sf_dir) >= 2  # the token frame and its masks
    assert key not in dedup._TOKEN_CACHE and key not in dedup._MASK_CACHE
    assert not toks.is_cached
    assert not toks.storageLevel.useMemory and not toks.storageLevel.useDisk
