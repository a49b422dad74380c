"""spark-submit entrypoint for the full ER pipeline.

North rule: the pipeline "runs via spark-submit --py-files at 10^12-turn
scale with explicit shuffle-partition tuning and skew handling". This is
that driver program. Cluster usage:

    zip -r bern_spark.zip bern_spark
    spark-submit --master <cluster> --py-files bern_spark.zip \
        bern_spark/jobs/resolve.py \
        --input  s3://.../transcripts        # or an Iceberg table via --input-table
        --lexicon s3://.../lexicon.parquet \
        --dicts-dir s3://.../dicts \
        --output s3://.../resolved \
        --lineage-dir s3://.../lineage \
        --shuffle-partitions 4096

Shuffle-partition guidance, measured (BENCH.md round 4): partition
count must track per-stage shuffle VOLUME, not just core count. At 30M
turns on 16 cores, 4x cores (64) beat 16x (256) — reduce stages were
fixed-cost-bound and extra tasks only added scheduling overhead; at
300M turns the same 16x-cores setting cut reduce-stage walls 30-35%
(multi-wave straggler amortization). Rule of thumb: start at ~4x total
cores, raise toward 200-500 MB of shuffle data per partition as the
corpus grows, and let AQE coalescing trim the small stages either way.

The session comes from ``SparkSession.builder.getOrCreate()`` so all
cluster submission configs (executors, memory, dynamic allocation) pass
through spark-submit untouched; the engine-required settings (AQE skew
join, Arrow, broadcast threshold) are applied only if not already set.

Inputs
------
--input / --input-table : transcripts with the contract columns
    (conv_id, turn_idx, role, text, tool, ts). ``--input-table`` reads a
    catalog table (e.g. an Iceberg table); ``--input`` reads a path.
--lexicon : parquet of (etype, surface, weight).
--dicts-dir : directory holding dict_{gene,disease,drug,species,mutation},
    dict_gene_{oldbest,freq}, meta_{gene,disease,drug} (+ optional
    id_merge) as parquet subdirectories.

Outputs
-------
<output>/mentions      one row per resolved mention (cluster_id, norm_ids)
<output>/annotations   per-turn canonical text + sorted denotations

With --lineage-dir, every stage is a durable parquet stage table with a
manifest — a resubmitted job resumes from the last completed stage. The
extract stage is then split into --extract-buckets buckets (default 8)
written by 4 sub-jobs, so a job killed mid-extract resumes at the last
completed sub-job rather than redoing the stage.
"""

from __future__ import annotations

import argparse


DICT_NAMES = [
    "dict_gene",
    "dict_disease",
    "dict_drug",
    "dict_species",
    "dict_mutation",
    "dict_gene_oldbest",
    "dict_gene_freq",
    "meta_gene",
    "meta_disease",
    "meta_drug",
]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="bern_spark ER pipeline job")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts path (parquet)")
    src.add_argument("--input-table", help="transcripts catalog table (e.g. Iceberg)")
    p.add_argument("--lexicon", required=True, help="lexicon parquet path")
    p.add_argument("--dicts-dir", required=True, help="directory of dict_*/meta_* parquet")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--lineage-dir", default=None, help="stage-table directory (resumable)")
    p.add_argument("--id-merge", default=None, help="optional id_merge parquet path")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--score-threshold", type=float, default=0.85)
    p.add_argument("--max-block-size", type=int, default=200)
    p.add_argument("--no-lsh", action="store_true")
    p.add_argument("--embedding-cosine", action="store_true")
    p.add_argument(
        "--extract-buckets", type=int, default=None,
        help="with --lineage-dir: run the extract stage as this many "
        "buckets with mid-stage resume (0 = whole-stage). Default 8 when "
        "--lineage-dir is set (file-bucketed overhead A/B-measured at "
        "+0.6%% of the 30M-turn extract wall at 8 buckets, BENCH.md r5 — "
        "vs hours of lost work on a crash at 10^12 turns), else 0.",
    )
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    from bern_spark.lineage import LineageStore
    from bern_spark.pipeline import ERConfig, resolve_entities

    b = SparkSession.builder.appName("bern_spark_resolve")
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = b.getOrCreate()
    # engine-required settings, only where submission didn't pin them
    defaults = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    for k, v in defaults.items():
        try:
            spark.conf.get(k)
        except Exception:
            spark.conf.set(k, v)

    transcripts = (
        spark.read.table(args.input_table)
        if args.input_table
        else spark.read.parquet(args.input)
    )
    lexicon = spark.read.parquet(args.lexicon)
    dicts = {n: spark.read.parquet(f"{args.dicts_dir}/{n}") for n in DICT_NAMES}
    id_merge = spark.read.parquet(args.id_merge) if args.id_merge else None

    store = LineageStore(args.lineage_dir) if args.lineage_dir else None
    if args.extract_buckets is None:
        args.extract_buckets = 8 if args.lineage_dir else 0
    cfg = ERConfig(
        score_threshold=args.score_threshold,
        max_block_size=args.max_block_size,
        use_lsh=not args.no_lsh,
        use_embedding_cosine=args.embedding_cosine,
        extract_buckets=args.extract_buckets,
    )
    res = resolve_entities(
        transcripts, lexicon, dicts, id_merge=id_merge, config=cfg, lineage_store=store
    )
    res["mentions"].write.mode("overwrite").parquet(f"{args.output}/mentions")
    res["annotations"].write.mode("overwrite").parquet(f"{args.output}/annotations")
    spark.stop()


if __name__ == "__main__":
    main()
