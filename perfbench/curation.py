"""The ``curation_batch`` workload: LLM-data curation over a seeded
corpus of text plus 64-d embeddings.

text_profile -> quality filter -> exact_dedup -> minhash_near_dups ->
connected_components -> semantic_dedup, ending in the kept-document
set. The corpus plants exact copies, lightly edited near-duplicates and
embedding-space paraphrases; each cluster's original holds the smallest
id, so the expected kept set is the originals plus the singletons.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from stedi import run_gen
from tracing import cpu_busy_s

from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators import (
    dedup,
    text,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
    load_table,
)

#: text_profile quality below this is junk; clean documents score > 1
QUALITY_MIN = 0.5
#: A run is correct only while dedup stays this good against the
#: planted truth (measured: recall ~0.98, precision 1.0).
MIN_RECALL = 0.9
MIN_PRECISION = 0.99


class Curation:
    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed

    def setup(self, spark, rep: int) -> None:
        self.d = os.path.join(self.work, f"corpus{rep}")
        manifest = os.path.join(self.work, f"corpus{rep}.json")
        run_gen("corpus", "--out", self.d, "--seed", str(self.seed), "--manifest", manifest)
        with open(manifest) as fh:
            m = json.load(fh)
        self.n_docs = m["docs"]
        self.true_dups = {i for ids in m["dups"].values() for i in ids}
        self.junk = set(m["junk"])

    def teardown(self) -> None:
        pass

    def warm_up(self, spark) -> None:
        """Two passes. The cold one takes three to four times the CPU of
        a later one (class loading, code generation, JIT compilation);
        the next still takes a third more."""
        for _ in range(2):
            self.run_pass(spark, None)

    def run_pass(self, spark, tracer) -> dict:
        """Input files to the collected kept set. With a tracer, every
        stage is materialized at its call boundary inside its own span
        (and the LSH banding is run once more on its own), so stage
        times add up instead of overlapping."""
        stats: dict = {}
        cpu0 = cpu_busy_s()
        t0 = time.perf_counter()
        docs = load_table(spark, self.d, "docs")
        emb = load_table(spark, self.d, "emb")

        def stage(name, build, count_as=None):
            """``build()`` and, when tracing, its materialization inside
            one span: some operators run jobs while building the plan."""
            if tracer is None:
                return build()
            with tracer.span(name):
                df = build().localCheckpoint(eager=True)
            if count_as:
                stats[count_as] = df.count()
            return df

        def quality_filtered():
            prof = text.text_profile(docs).filter(F.col("quality") >= QUALITY_MIN)
            return docs.join(prof.select("doc_id"), "doc_id", "left_semi")

        good = stage("operators.text.profile", quality_filtered)
        exact = stage(
            "operators.dedup.exact",
            lambda: dedup.exact_dedup(good).select(F.col("keep_id").alias("doc_id"), "text"),
        )
        if tracer is None:
            pairs = dedup.minhash_near_dups(exact)
        else:
            # minhash_near_dups, split at its public stages
            stage("operators.dedup.lsh_band", lambda: dedup.lsh_band_table(exact))
            cands = stage("operators.dedup.candidates",
                          lambda: dedup.minhash_lsh_candidates(exact), "candidate_pairs")
            pairs = stage(
                "operators.dedup.verify",
                lambda: dedup.ngram_jaccard(exact, cands).filter(F.col("jaccard") >= 0.5),
                "verified_pairs",
            )
        cc_stats: dict = {}
        clusters = stage(
            "operators.dedup.cc",
            lambda: dedup.connected_components(pairs.select("doc_a", "doc_b"), stats=cc_stats),
        )
        near_kept = exact.join(
            clusters.filter(F.col("node") != F.col("cluster")).select(F.col("node").alias("doc_id")),
            "doc_id", "left_anti",
        )
        corpus = emb.join(near_kept.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
        sem = stage("operators.dedup.semantic", lambda: dedup.semantic_dedup(corpus))
        kept = {r[0] for r in sem.filter("kept").select("vec_id").collect()}
        seconds = time.perf_counter() - t0
        cpu_s = cpu_busy_s() - cpu0
        if tracer is not None:
            stats["semantic_removed"] = sem.filter(~F.col("kept")).count()
        stats["cc_iterations"] = cc_stats.get("iterations", 0)
        return {"seconds": seconds, "cpu_s": cpu_s, "kept": kept, "stats": stats}

    def quality(self, kept: set[int]) -> tuple[float, float, int]:
        """(recall, precision, junk kept) of the removed documents
        against the planted duplicates; junk is out of scope for both."""
        removed = set(range(self.n_docs)) - kept - self.junk
        hit = len(removed & self.true_dups)
        recall = hit / len(self.true_dups) if self.true_dups else 0.0
        precision = hit / len(removed) if removed else 0.0
        return recall, precision, len(kept & self.junk)
