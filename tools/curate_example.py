"""Example corpus-curation pipeline: the engine's LLM-data operators
composed end-to-end the way a training-data run would use them.

    python tools/curate_example.py [sf_dir] [out_dir]
    spark-submit --py-files proj_spark.zip tools/curate_example.py ...

Funnel (each stage a library operator, no ad-hoc logic):

  documents
    -> exact dedup           (md5 group-by; keep min doc_id per text)
    -> near-dup groups       (minhash LSH candidates -> exact shingle-
                              Jaccard verify >= 0.5 -> connected
                              components -> keep the group minimum)
    -> quality gate          (C4/Gopher-style score + token bounds +
                              declared-vs-guessed language agreement)
    -> checkpointed write    (partitioned by lang, per-partition lineage,
                              idempotent resume: rerun == all skipped)

Prints one JSON line with the funnel counts and the per-stage drop —
the number a curation run reports to its pipeline dashboard.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

QUALITY_MIN = 0.35
TOKENS_MIN, TOKENS_MAX = 10, 100_000


def main(sf_dir: str, out_dir: str) -> None:
    from proj_spark.plans.checkpoint import CheckpointedStage
    from proj_spark.spark.session import get_spark
    from proj_spark.text import analysis
    from proj_spark.text.components import dedup_assign
    from proj_spark.text.dedup import exact_dedup, minhash_near_dups

    spark = get_spark()
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n0 = docs.count()

    # 1. exact dedup: keep the smallest doc_id per identical text
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    docs1 = docs.join(keep, "doc_id", "semi").persist()
    n1 = docs1.count()

    # 2. near-dup groups: LSH candidates -> exact Jaccard verify ->
    #    connected components -> keep each group's minimum doc_id
    edges = (minhash_near_dups(docs1, 64, 4)
             .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    assign = dedup_assign(docs1.select("doc_id"), edges)
    docs2 = (docs1.join(assign.where("is_keep").select("doc_id"),
                        "doc_id", "semi").persist())
    n2 = docs2.count()

    # 3. quality gate: score + token bounds + language agreement
    t = F.col("text")
    docs3 = (docs2
             .withColumn("n_tokens", analysis.token_count(t))
             .withColumn("quality", analysis.quality_score(t))
             .withColumn("lang_guessed", analysis.lang_guess(t))
             .where((F.col("quality") >= QUALITY_MIN)
                    & F.col("n_tokens").between(TOKENS_MIN, TOKENS_MAX)
                    & (F.col("lang_guessed") == F.col("lang"))))
    n3 = docs3.count()

    # 4. checkpointed write partitioned by lang (resume granularity);
    #    a second run of the same command skips every partition
    stage = CheckpointedStage(out_dir, "lang")
    report = stage.run(docs3.drop("lang_guessed"))

    print(json.dumps({
        "input_docs": n0,
        "after_exact_dedup": n1,
        "after_neardup_groups": n2,
        "after_quality_gate": n3,
        "kept_fraction": round(n3 / n0, 4) if n0 else None,
        "write": report,
    }), flush=True)
    # docs1, docs2 and the near-dup stage's signature and candidate caches
    spark.catalog.clearCache()


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/curated_corpus"
    main(sf, out)
