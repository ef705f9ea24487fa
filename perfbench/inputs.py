"""Seeded input generators for the benchmark's workloads.

Everything here is plain Python: the program under test receives only
the files these functions describe (spool files, a documents parquet),
never the generator's own bookkeeping.
"""

from __future__ import annotations

import calendar
import os
import random
import string

# 2024-03-05 09:00:00 UTC: a single-digit hour, so the unpadded
# ``H:m:s`` body format is exercised on every spool.
SPOOL_EPOCH = calendar.timegm((2024, 3, 5, 9, 0, 0))


def spool_plan(seed: int, n_files: int, tag: str = "f") -> list[tuple[str, bytes, int]]:
    """``n_files`` (name, body, mtime) triples. Names are seeded and
    unique; mtimes take ``n_files // 4`` distinct whole seconds, so most
    files share their mtime with others and the consume order falls back
    to the name tiebreak."""
    rng = random.Random(f"spool-{seed}-{tag}")
    alphabet = string.ascii_lowercase + string.digits
    names: set[str] = set()
    plan = []
    span = max(1, n_files // 4)
    while len(plan) < n_files:
        name = f"{tag}{''.join(rng.choices(alphabet, k=10))}.log"
        if name in names:
            continue
        names.add(name)
        body = " ".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 40)))
        plan.append((name, body.encode(), SPOOL_EPOCH + rng.randrange(span)))
    return plan


def set_mtimes(directory: str, plan: list[tuple[str, bytes, int]]) -> None:
    for name, _, mtime in plan:
        os.utime(os.path.join(directory, name), (mtime, mtime))


def write_spool_files(directory: str, plan: list[tuple[str, bytes, int]]) -> None:
    """Write a plan's files directly (no Spark): for the layer loop's
    copy of a spool and for small fixed spools."""
    os.makedirs(directory, exist_ok=True)
    for name, body, _ in plan:
        with open(os.path.join(directory, name), "wb") as f:
            f.write(body)
    set_mtimes(directory, plan)


def _vocab(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 8))))
    return sorted(words)


def corpus(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """``n_docs`` (doc_id, text) documents, tokens separated by single
    spaces. The mix:

    - planted near-duplicate clusters of 2-4 documents: a base text and
      variants that each substitute one token at a distinct position.
      With at least 80 tokens every pair in a cluster has 3-shingle
      Jaccard >= (78 - 6) / (78 + 6) = 0.857, far above 0.5.
    - related background pairs: a document that embeds a contiguous run
      of another's tokens, sized for Jaccard 0.15-0.35. MinHash-LSH
      makes candidates of some of them and verification rejects them.
    - one document shorter than 3 tokens (no shingles).
    - independent background documents of 20-140 random tokens.

    So pairwise similarity is bimodal (>= 0.85 or <= 0.35), the shape
    the LSH band setting assumes, and no band bucket comes near the
    200-id cap. Doc ids are a seeded permutation of ``range(n_docs)``.
    """
    rng = random.Random(f"corpus-{seed}")
    vocab = _vocab(rng, 20000)

    def words(n: int) -> list[str]:
        return rng.choices(vocab, k=n)

    texts: list[list[str]] = [words(rng.randint(0, 2))]
    n_cluster_docs = n_docs * 3 // 10
    while len(texts) < 1 + n_cluster_docs:
        size = rng.randint(2, 4)
        base = words(rng.randint(80, 140))
        texts.append(base)
        positions = rng.sample(range(len(base)), size - 1)
        for p in positions:
            variant = list(base)
            variant[p] = rng.choice(vocab)
            texts.append(variant)
    n_related = n_docs // 10
    for _ in range(n_related // 2):
        a = words(rng.randint(80, 140))
        nb = rng.randint(80, 140)
        target = rng.uniform(0.15, 0.35)
        shared = round(target * ((len(a) - 2) + (nb - 2)) / (1 + target))
        run = shared + 2  # a run of m tokens carries m - 2 shingles
        start = rng.randrange(len(a) - run + 1)
        head = rng.randint(0, nb - run)
        b = words(head) + a[start : start + run] + words(nb - run - head)
        texts += [a, b]
    while len(texts) < n_docs:
        texts.append(words(rng.randint(20, 140)))
    texts = texts[:n_docs]
    ids = list(range(n_docs))
    rng.shuffle(ids)
    return sorted((doc_id, " ".join(t)) for doc_id, t in zip(ids, texts))


def write_corpus(sf_dir: str, docs: list[tuple[int, str]]) -> None:
    """Write ``docs`` as ``documents.parquet`` plus the one-row stubs of
    the other fixture tables that ``load_tables`` opens (it reads every
    table's footer; the dedup builders use only ``documents``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    texts = [t for _, t in docs]
    documents = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["perfbench"] * len(docs), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(documents, os.path.join(sf_dir, "documents.parquet"))
    for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "embeddings"):
        pq.write_table(pa.table({"id": pa.array([0], pa.int64())}), os.path.join(sf_dir, f"{name}.parquet"))
    pq.write_table(pa.table({"ts": pa.array([0], pa.int64())}), os.path.join(sf_dir, "events.parquet"))
