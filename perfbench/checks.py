"""The benchmark's own checks, computed apart from the program.

Each ``check_*`` function returns a list of problems (empty when the
output is right), so a run can report every mismatch it sees. The
functions take plain Python values, not Spark objects, so the tests in
``test_checks.py`` feed them planted wrong outputs without a session.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict
from datetime import datetime, timedelta

_EPOCH = datetime(1970, 1, 1)


def body_time(mtime: float) -> str:
    """Host-local ``yyyy-MM-dd H:m:s`` with unpadded hour, minute and
    second (the reference's SimpleDateFormat pattern), written from
    ``time.localtime`` rather than from the program's formatter."""
    t = time.localtime(mtime)
    return f"{t.tm_year:04d}-{t.tm_mon:02d}-{t.tm_mday:02d} {t.tm_hour}:{t.tm_min}:{t.tm_sec}"


def expected_row(directory: str, name: str, mtime: float) -> tuple[str, str, datetime, str]:
    path = os.path.abspath(os.path.join(directory, name))
    return (name, path, _EPOCH + timedelta(seconds=mtime), f"{name},{path},{body_time(mtime)}")


# -- spool drains ---------------------------------------------------------


def check_drain(
    directory: str,
    published: dict[str, bytes],
    stat_mtime: dict[str, float],
    batches: list[tuple[int, list[tuple]]],
    max_files: int,
) -> list[str]:
    """Check a drain's emitted rows.

    ``published``: name -> bytes written. ``stat_mtime``: name -> the
    ``os.stat`` mtime read before the drain. ``batches``: (epoch, rows)
    per micro-batch as the sink saw them, rows being
    (file_name, file_path, last_modified, body).
    """
    problems = []
    rows = [r for _, rs in batches for r in rs]
    counts = Counter(r[0] for r in rows)
    dup = sorted(n for n, c in counts.items() if c > 1)
    if dup:
        problems.append(f"{len(dup)} names emitted more than once, e.g. {dup[:3]}")
    missing = sorted(set(published) - set(counts))
    if missing:
        problems.append(f"{len(missing)} published files never emitted, e.g. {missing[:3]}")
    extra = sorted(set(counts) - set(published))
    if extra:
        problems.append(f"{len(extra)} emitted names were never published, e.g. {extra[:3]}")
    wrong = [
        r for r in rows if r[0] in stat_mtime and tuple(r) != expected_row(directory, r[0], stat_mtime[r[0]])
    ]
    if wrong:
        r = wrong[0]
        problems.append(
            f"{len(wrong)} rows differ from os.stat, e.g. {r!r} != {expected_row(directory, r[0], stat_mtime[r[0]])!r}"
        )
    order = sorted(published, key=lambda n: (stat_mtime[n], n))
    full = [sorted(r[0] for r in rs) for _, rs in sorted(batches, key=lambda b: b[0]) if rs]
    slices = [sorted(order[i : i + max_files]) for i in range(0, len(order), max_files)]
    if full != slices:
        problems.append(
            f"non-empty batches ({len(full)}) are not consecutive {max_files}-file slices "
            f"of the (mtime, name) order ({len(slices)})"
        )
    return problems


def check_spool_after(directory: str, published: dict[str, bytes], suffix: str, n_emitted: int) -> list[str]:
    """The directory after a rename-mode drain: every file ends renamed
    to ``name + suffix`` with its bytes, and the renamed count equals
    the emitted count."""
    names = sorted(os.listdir(directory))
    want = sorted(n + suffix for n in published)
    problems = []
    if names != want:
        problems.append(f"directory holds {len(names)} entries, want {len(want)} renamed to {suffix!r}")
    for n, body in published.items():
        p = os.path.join(directory, n + suffix)
        if os.path.exists(p):
            with open(p, "rb") as f:
                if f.read() != body:
                    problems.append(f"{p} does not hold its published bytes")
                    break
    renamed = sum(1 for n in names if n.endswith(suffix))
    if renamed != n_emitted:
        problems.append(f"{renamed} files renamed on disk but {n_emitted} emitted")
    return problems


# -- corpus dedup ---------------------------------------------------------


def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def round_half_up(num: int, den: int, places: int = 4) -> float:
    """``num / den`` rounded half-up to ``places`` decimals in exact
    integer arithmetic, as the nearest double (Spark's ``round``)."""
    scale = 10**places
    return ((2 * num * scale + den) // (2 * den)) / scale


def exact_pairs(docs: list[tuple[int, str]]) -> dict[tuple[int, int], float]:
    """Every (i, j), i < j, with exact 3-shingle Jaccard >= 0.5, mapped
    to its Jaccard rounded half-up to 4 places. Intersections are
    counted over an inverted shingle index."""
    sets = {d: shingles(t) for d, t in docs}
    index: dict[str, list[int]] = defaultdict(list)
    for d, s in sets.items():
        for sh in s:
            index[sh].append(d)
    inter: Counter = Counter()
    for ids in index.values():
        if len(ids) > 1:
            ids.sort()
            for a in range(len(ids)):
                for b in range(a + 1, len(ids)):
                    inter[(ids[a], ids[b])] += 1
    out = {}
    for (i, j), c in inter.items():
        union = len(sets[i]) + len(sets[j]) - c
        if 2 * c >= union:  # c / union >= 0.5
            out[(i, j)] = round_half_up(c, union)
    return out


def check_pairs(got: list[tuple[int, int, float]], want: dict[tuple[int, int], float]) -> list[str]:
    """``dedup_minhash_lsh`` rows (i, j, jaccard) against the exact pair
    set and rounded values."""
    problems = []
    keys = [(i, j) for i, j, _ in got]
    if len(keys) != len(set(keys)):
        problems.append(f"{len(keys) - len(set(keys))} duplicated pairs")
    missing = sorted(set(want) - set(keys))
    extra = sorted(set(keys) - set(want))
    if missing:
        problems.append(f"{len(missing)} exact pairs missing, e.g. {missing[:3]}")
    if extra:
        problems.append(f"{len(extra)} pairs below the threshold or not similar, e.g. {extra[:3]}")
    wrong = [(i, j, v, want[(i, j)]) for i, j, v in got if (i, j) in want and v != want[(i, j)]]
    if wrong:
        problems.append(f"{len(wrong)} jaccard values differ from the exact half-up rounding, e.g. {wrong[:3]}")
    return problems


def components(doc_ids: list[int], pairs) -> dict[int, int]:
    """doc_id -> minimum doc_id of its union-find component."""
    parent = {d: d for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    return {d: find(d) for d in doc_ids}


def check_clusters(got: list[tuple[int, int, int, bool]], want: dict[int, int]) -> list[str]:
    """``dedup_cluster_cc_lsh`` rows (doc_id, component_id,
    component_size, is_keeper) against union-find over the exact
    pairs."""
    problems = []
    ids = [r[0] for r in got]
    if sorted(ids) != sorted(want):
        problems.append(f"{len(got)} rows for {len(want)} documents, or ids differ")
    sizes = Counter(want.values())
    bad = [r for r in got if r[0] in want and (r[1], r[2], r[3]) != (want[r[0]], sizes[want[r[0]]], r[0] == want[r[0]])]
    if bad:
        r = bad[0]
        problems.append(
            f"{len(bad)} rows differ from union-find, e.g. {r!r} want component {want[r[0]]} size {sizes[want[r[0]]]}"
        )
    keeper_total = sum(r[2] for r in got if r[3])
    if keeper_total != len(want):
        problems.append(f"keeper component sizes sum to {keeper_total}, not {len(want)}")
    return problems
