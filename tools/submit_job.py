"""spark-submit entry point (north rule: jobs run via spark-submit
--py-files). Builds a prefix filter over a deterministic synthetic
token table, checkpoints shard state, probes it, prints one JSON line.

Usage:
  zip -r pfs.zip prefix_filter_spark
  spark-submit --master local[8] --py-files pfs.zip tools/submit_job.py \
      --n-docs 20000 --checkpoint /tmp/pf_ckpt
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=20_000)
    ap.add_argument("--num-shards", type=int, default=16)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--checkpoint", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pfs-submit-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from prefix_filter_spark.functions import register_contains_udf
    from prefix_filter_spark.plans import checkpoint as ckpt
    from prefix_filter_spark.sketches import prefix_filter as pfm
    from prefix_filter_spark.sources import synthetic

    docs = synthetic.synthetic_documents(spark, args.n_docs, seed=args.seed)
    tokens = synthetic.exploded_token_stream(docs)
    n_distinct = tokens.select("token").distinct().count()
    cfg = pfm.PrefixFilterConfig(
        n_capacity=max(n_distinct, 1024), num_shards=args.num_shards, seed=args.seed
    )
    build = lambda df, k: pfm.build_prefix_filter(df, k, cfg)  # noqa: E731
    if args.checkpoint:
        shards = ckpt.build_or_resume(
            spark,
            tokens,
            "token",
            seed=cfg.seed,
            num_shards=cfg.num_shards,
            build_fn=build,
            checkpoint_path=args.checkpoint,
        )
    else:
        shards = build(tokens, "token")
    handle = pfm.ShardedPrefixFilter.from_df(cfg, shards)
    fn = register_contains_udf(spark, "pf_contains", handle, cfg.seed)
    members = tokens.select("token").distinct()
    # token is int32: pass df so the probe widens to the same bigint
    # hash path the build used (plans.sharding.widen_key_col)
    found = members.where(fn("token", members)).count()
    print(
        json.dumps(
            {
                "n_docs": args.n_docs,
                "distinct_tokens": n_distinct,
                "members_found": found,
                "false_negatives": n_distinct - found,
                "state_bytes": handle.byte_size(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
