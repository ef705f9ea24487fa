"""The corpus_dedup workload: a seeded corpus through
``dedup_minhash_lsh`` and then ``dedup_cluster_cc_lsh``, each a builder
call plus ``collect()``."""

from __future__ import annotations

import os
import sys
import time

import checks
import inputs
import tracing

WARMUP_ROUNDS = 2


class CorpusWorkload:
    def __init__(self, ctx, n_docs: int):
        self.ctx = ctx
        self.spark = ctx.spark
        self.docs = inputs.corpus(ctx.seed, n_docs)
        self.sf_dir = os.path.join(ctx.work, "corpus")
        inputs.write_corpus(self.sf_dir, self.docs)
        self.want_pairs = checks.exact_pairs(self.docs)
        self.want_comp = checks.components([d for d, _ in self.docs], self.want_pairs)
        self.per_round: list[float] = []  # core ms/doc over lsh + cluster
        self.wall = {"dedup.minhash_lsh_s": 0.0, "graph.cluster_cc_lsh_s": 0.0}
        self.cpu = {"jvm": 0.0, "python": 0.0}
        self.layer: dict[str, float] = {}

    def warmup(self) -> None:
        """Both builders, twice, on a separate corpus of the same size,
        untimed and unchecked. A cold call takes about four times a warm
        one. The CPU per call still falls over the timed rounds while
        the JIT compiles the per-row expression code; the median over
        the rounds absorbs that (dedup_cluster_cc_lsh calls
        dedup_minhash_lsh itself)."""
        from flume_source_spark.pipeline.dedup import dedup_minhash_lsh
        from flume_source_spark.pipeline.graph import dedup_cluster_cc_lsh

        sf = os.path.join(self.ctx.work, "warmup")
        inputs.write_corpus(sf, inputs.corpus(self.ctx.seed + 1_000_003, len(self.docs)))
        t0 = time.perf_counter()
        with self.ctx.tracer.span("corpus.warmup"):
            for _ in range(WARMUP_ROUNDS):
                dedup_minhash_lsh(self.spark, sf).collect()
                dedup_cluster_cc_lsh(self.spark, sf).collect()
        self.layer["corpus.warmup_s"] = time.perf_counter() - t0

    def round(self, r: int) -> tuple[int, int]:
        from flume_source_spark.pipeline.dedup import dedup_minhash_lsh
        from flume_source_spark.pipeline.graph import dedup_cluster_cc_lsh

        cpu0 = tracing.tree_cpu()
        t0 = time.perf_counter()
        with self.ctx.tracer.span("dedup.minhash_lsh"):
            pairs = [tuple(x) for x in dedup_minhash_lsh(self.spark, self.sf_dir).collect()]
        t1 = time.perf_counter()
        cpu1 = tracing.tree_cpu()
        self.ctx.sample_rss()
        t2 = time.perf_counter()
        with self.ctx.tracer.span("graph.cluster_cc_lsh"):
            clusters = [tuple(x) for x in dedup_cluster_cc_lsh(self.spark, self.sf_dir).collect()]
        t3 = time.perf_counter()
        cpu3 = tracing.tree_cpu()
        self.ctx.sample_rss()
        lsh_cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        cluster_cpu = {k: cpu3[k] - cpu1[k] for k in cpu0}
        print(
            f"round {r}: lsh {t1 - t0:.3f} s, cpu {tracing.fmt_cpu(lsh_cpu)};"
            f" cluster {t3 - t2:.3f} s, cpu {tracing.fmt_cpu(cluster_cpu)}",
            file=sys.stderr,
        )
        n = len(self.docs)
        self.per_round.append(1000 * (sum(lsh_cpu.values()) + sum(cluster_cpu.values())) / n)
        self.wall["dedup.minhash_lsh_s"] += t1 - t0
        self.wall["graph.cluster_cc_lsh_s"] += t3 - t2
        for k in self.cpu:
            self.cpu[k] += lsh_cpu[k] + cluster_cpu[k]
        problems = checks.check_pairs(pairs, self.want_pairs)
        problems += checks.check_clusters(clusters, self.want_comp)
        self.ctx.report(problems)
        return 2, 0

    def known_faults(self) -> tuple[int, int]:
        return 0, 0

    def layers(self) -> None:
        """Each public stage of the LSH pipeline on the same corpus,
        timed with a noop write over a cached input, then the builder
        split into its eager part and its action, then connected
        components over the verified pairs."""
        from pyspark.sql import functions as F

        from flume_source_spark.pipeline.dedup import (
            MAX_BUCKET,
            dedup_minhash_lsh,
            lsh_bucket_profile,
            lsh_candidate_pairs,
            minhash_signature,
            shingle_col,
            spread,
        )
        from flume_source_spark.pipeline.graph import connected_components
        from flume_source_spark.tables import load_tables

        spark, tr, out = self.spark, self.ctx.tracer, self.layer

        def noop(df, key):
            t0 = time.perf_counter()
            with tr.span(key):
                df.write.format("noop").mode("overwrite").save()
            out[key] = time.perf_counter() - t0

        d = spread(load_tables(spark, self.sf_dir)["documents"])
        docs = d.select("doc_id", shingle_col(F.col("text")).alias("shingles")).persist()
        noop(docs, "dedup.shingle_s")
        sig = minhash_signature(docs, "doc_id", "shingles").persist()
        noop(sig, "dedup.signature_s")
        cand = lsh_candidate_pairs(sig, "doc_id").persist()
        noop(cand, "dedup.candidates_s")
        out["dedup.candidate_pairs"] = cand.count()
        out["dedup.hot_buckets_dropped"] = lsh_bucket_profile(sig, "doc_id").filter(
            F.col("bucket_size") > MAX_BUCKET
        ).count()
        for df in (cand, sig, docs):
            df.unpersist(blocking=True)

        counts: dict[str, int] = {}
        t0 = time.perf_counter()
        with tr.span("dedup.builder_eager"), self.ctx.jobs.group(counts, "dedup.jobs"):
            built = dedup_minhash_lsh(spark, self.sf_dir)
            t1 = time.perf_counter()
            with tr.span("dedup.action"):
                pairs = built.collect()
        t2 = time.perf_counter()
        out["dedup.builder_eager_s"] = t1 - t0
        out["dedup.action_s"] = t2 - t1
        out["dedup.jobs"] = counts["dedup.jobs"]
        out["dedup.verified_pairs"] = len(pairs)
        out["dedup.verify_yield"] = len(pairs) / out["dedup.candidate_pairs"] if out["dedup.candidate_pairs"] else 0.0

        nodes = load_tables(spark, self.sf_dir)["documents"].select(F.col("doc_id").alias("id"))
        edges = spark.createDataFrame([(p[0], p[1]) for p in pairs], "src long, dst long")
        t0 = time.perf_counter()
        with tr.span("graph.cc"), self.ctx.jobs.group(counts, "graph.cc_jobs"):
            comp = connected_components(nodes, edges).collect()
        out["graph.cc_s"] = time.perf_counter() - t0
        out["graph.cc_jobs"] = counts["graph.cc_jobs"]
        out["graph.components"] = len({r["component_id"] for r in comp})
        got = {r["id"]: r["component_id"] for r in comp}
        if got != self.want_comp:
            self.ctx.report([f"connected_components: {sum(got.get(k) != v for k, v in self.want_comp.items())} ids differ"])

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return tracing.round_median(self.per_round)

    def per_layer(self) -> dict[str, float]:
        return {**self.layer, **self.wall, "proc.jvm_core_s": self.cpu["jvm"], "proc.python_core_s": self.cpu["python"]}
