"""Each of the benchmark's checks fails on a planted wrong output.

    python3 -m pytest perfbench/test_checks.py -q -p no:cacheprovider

No Spark: the checks take plain Python values.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402

MAX = 4


@pytest.fixture
def spool(tmp_path):
    """A spool of 10 files and the right drain output for it, in
    batches of ``MAX`` files."""
    d = str(tmp_path)
    plan = inputs.spool_plan(7, 10)
    inputs.write_spool_files(d, plan)
    published = {n: b for n, b, _ in plan}
    mtimes = {n: os.stat(os.path.join(d, n)).st_mtime for n in published}
    order = sorted(published, key=lambda n: (mtimes[n], n))
    batches = [
        (epoch, [checks.expected_row(d, n, mtimes[n]) for n in order[i : i + MAX]])
        for epoch, i in enumerate(range(0, len(order), MAX))
    ]
    return d, published, mtimes, batches


def drain_problems(spool, batches):
    d, published, mtimes, _ = spool
    return checks.check_drain(d, published, mtimes, batches, MAX)


def test_right_drain_passes(spool):
    assert drain_problems(spool, spool[3]) == []
    d, published = spool[0], spool[1]
    for n in published:
        os.rename(os.path.join(d, n), os.path.join(d, n + ".COMPLETED"))
    assert checks.check_spool_after(d, published, ".COMPLETED", 10) == []


def test_dropped_row_fails(spool):
    batches = [(e, list(rows)) for e, rows in spool[3]]
    batches[1][1].pop()
    assert any("never emitted" in p for p in drain_problems(spool, batches))


def test_duplicated_row_fails(spool):
    batches = [(e, list(rows)) for e, rows in spool[3]]
    batches[2][1].append(batches[0][1][0])
    assert any("more than once" in p for p in drain_problems(spool, batches))


def test_padded_body_time_fails(spool):
    d, _, mtimes, good = spool
    batches = [(e, list(rows)) for e, rows in good]
    name, path, ts, _ = batches[0][1][0]
    padded = f"{name},{path},{ts:%Y-%m-%d %H:%M:%S}"
    assert padded != batches[0][1][0][3]  # 09:..: the epoch's hour is one digit
    batches[0][1][0] = (name, path, ts, padded)
    assert any("differ from os.stat" in p for p in drain_problems(spool, batches))


def test_batches_out_of_consume_order_fail(spool):
    good = spool[3]
    swapped = [(good[0][0], good[1][1]), (good[1][0], good[0][1])] + good[2:]
    assert any("consecutive" in p for p in drain_problems(spool, swapped))


def test_unrenamed_file_fails(spool):
    d, published = spool[0], spool[1]
    names = sorted(published)
    for n in names[1:]:
        os.rename(os.path.join(d, n), os.path.join(d, n + ".COMPLETED"))
    assert checks.check_spool_after(d, published, ".COMPLETED", 10)


@pytest.fixture
def corpus():
    docs = inputs.corpus(3, 300)
    pairs = checks.exact_pairs(docs)
    assert pairs, "the corpus plants near-duplicate clusters"
    return docs, pairs


def test_right_pairs_pass(corpus):
    _, pairs = corpus
    assert checks.check_pairs([(i, j, v) for (i, j), v in pairs.items()], pairs) == []


def test_pair_below_threshold_fails(corpus):
    docs, pairs = corpus
    sets = {d: checks.shingles(t) for d, t in docs}
    low = next(
        (a, b)
        for a, _ in docs
        for b, _ in docs
        if a < b and sets[a] & sets[b] and (a, b) not in pairs
    )
    got = [(i, j, v) for (i, j), v in pairs.items()] + [(*low, 0.5)]
    assert any("below the threshold" in p for p in checks.check_pairs(got, pairs))


def test_wrong_jaccard_in_4th_place_fails(corpus):
    _, pairs = corpus
    got = [(i, j, v) for (i, j), v in pairs.items()]
    i, j, v = got[0]
    got[0] = (i, j, round(v + 0.0001, 4))
    assert any("jaccard values differ" in p for p in checks.check_pairs(got, pairs))


def test_round_half_up_is_exact():
    # 0.56785 is 11357/20000; Python's round() on the double gives 0.5678
    assert checks.round_half_up(11357, 20000) == 0.5679
    assert checks.round_half_up(1, 3) == 0.3333
    assert checks.round_half_up(2, 3) == 0.6667


def test_wrong_component_id_fails(corpus):
    docs, pairs = corpus
    comp = checks.components([d for d, _ in docs], pairs)
    sizes = {c: list(comp.values()).count(c) for c in set(comp.values())}
    rows = [(d, c, sizes[c], d == c) for d, c in comp.items()]
    assert checks.check_clusters(rows, comp) == []
    k = next(k for k, r in enumerate(rows) if r[2] > 1 and not r[3])
    d, c, size, keep = rows[k]
    rows[k] = (d, d, size, keep)
    assert any("differ from union-find" in p for p in checks.check_clusters(rows, comp))
