"""The driver's 50-row correctness window (``__spark_entry__.queries()``
iteration order), computed from the committed CORRECTNESS_rNN.json
history. Pure Python: no Spark session."""

import json
import os

import __spark_entry__ as em

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the rows whose engine changed in round 16, which led that round's window
R16_PRIORITY = [
    "dedup_connected_components",
    "mmr_diverse_topk",
    "image_dhash",
    "image_near_dup",
    "ann_index_roundtrip",
    "minhash_xxh_pairset",
    "dedup_minhash_lsh",
    "fuzzy_decontamination",
    "pipe_subprocess",
]


def test_reproduces_the_round_16_window():
    names = list(em.queries())
    window = em.correctness_window(
        names, em.last_checked_rounds(upto=15), R16_PRIORITY
    )
    assert window[: len(R16_PRIORITY)] == R16_PRIORITY
    with open(os.path.join(REPO, "CORRECTNESS_r16.json")) as fh:
        assert set(window) == set(json.load(fh))


def test_deterministic():
    names = list(em.queries())
    last = em.last_checked_rounds()
    first = em.correctness_window(names, last, em.PRIORITY)
    assert em.correctness_window(names, last, em.PRIORITY) == first
    assert list(em.queries()) == list(em.queries())


def test_window_shape():
    names = list(em.queries())
    window = names[:50]
    assert len(set(window)) == 50
    assert len(em.PRIORITY) <= 9
    assert window[: len(em.PRIORITY)] == em.PRIORITY
    assert window == em.correctness_window(
        names, em.last_checked_rounds(), em.PRIORITY
    )


def test_stalest_rows_flushed_first():
    """On the r01-r16 history every row last checked in round 13 (the
    stalest) fits beside the PRIORITY rows."""
    names = list(em.queries())
    last = em.last_checked_rounds(upto=16)
    stalest = {n for n in names if last.get(n, 0) == 13}
    assert min(last.get(n, 0) for n in names) == 13
    assert len(stalest) == 41
    window = em.correctness_window(names, last, em.PRIORITY)
    assert stalest | set(em.PRIORITY) <= set(window)


def test_never_checked_rows_go_first():
    window = em.correctness_window(
        ["b", "a", "c", "d"], {"a": 3, "b": 1, "d": 1}, ["d"], size=3
    )
    assert window == ["d", "c", "b"]


def test_registry_unchanged():
    assert len(em.queries()) == 187
    assert len(em.oracle_sql()) == 185
    assert set(em.oracle_sql()) <= set(em.queries())
