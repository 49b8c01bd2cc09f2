"""CLI for spark-submit deployment (north star: ``spark-submit --py-files``).

Package the library and submit:

    cd /root/repo && zip -r /tmp/d2es.zip dynamo2es_lambda_spark
    spark-submit --py-files /tmp/d2es.zip scripts/spark_job.py \
        build --input /data/corpus --store /data/index --batches 64
    spark-submit --py-files /tmp/d2es.zip scripts/spark_job.py \
        search --store /data/index --query "block max wand" --k 10
    spark-submit --py-files /tmp/d2es.zip scripts/spark_job.py \
        cdc --input /data/events --store /data/index
    spark-submit --py-files /tmp/d2es.zip scripts/spark_job.py \
        compact --store /data/index

On a cluster the session comes from spark-submit's conf (master, executor
counts); locally this falls back to local[*].
"""

from __future__ import annotations

import argparse
import json
import sys

import pandas as pd
from pyspark.sql import SparkSession


def _session() -> SparkSession:
    return SparkSession.builder.appName("dynamo2es-lambda-spark").getOrCreate()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dynamo2es_lambda_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True, help="corpus parquet/iceberg path")
    b.add_argument("--store", required=True)
    b.add_argument("--config", default="{}", help="IndexerConfig JSON")
    b.add_argument("--batches", type=int, default=1)
    b.add_argument("--segments", type=int, default=0, help="docs per segment")
    b.add_argument("--buckets", type=int, default=64)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--positions", action="store_true",
                   help="store positional payloads (enables phrase search)")
    b.add_argument("--id-mode", default=None, choices=["hash", "dense"],
                   help="doc-id scheme: hash (no extra shuffle) or dense "
                        "(rank ids, ~8x smaller posting deltas)")

    s = sub.add_parser("search", help="top-k BM25 query")
    s.add_argument("--store", required=True)
    s.add_argument("--query", action="append", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--mode", default="or", choices=["or", "and"])
    s.add_argument("--algo", default="wand", choices=["wand", "exhaustive"])
    s.add_argument("--type", default="match",
                   choices=["match", "phrase", "prefix", "fuzzy"])
    s.add_argument("--index", default=None,
                   help="restrict to one routed _index (match type)")
    s.add_argument("--max-edits", type=int, default=1)
    s.add_argument("--max-expansions", type=int, default=50)

    c = sub.add_parser("cdc", help="apply a change-event batch")
    c.add_argument("--input", required=True, help="events parquet path")
    c.add_argument("--store", required=True)
    c.add_argument("--config", default="{}")
    c.add_argument("--compact", action="store_true")

    m = sub.add_parser("compact", help="compact the store (segment merge)")
    m.add_argument("--store", required=True)
    m.add_argument("--buckets", type=int, default=None,
                   help="term-bucket modulus (default: the store's own)")

    args = p.parse_args(argv)
    from .config import IndexerConfig
    from .plans import build, cdc, search

    spark = _session()
    if args.cmd == "build":
        opts = json.loads(args.config)
        opts.setdefault("index", "docs")
        cfg = IndexerConfig.from_dict(opts)
        res = build.build_index(
            spark.read.parquet(args.input), cfg, args.store,
            segment_docs=args.segments or None,
            num_buckets=args.buckets,
            num_batches=args.batches,
            resume=not args.no_resume,
            positions=args.positions,
            id_mode=args.id_mode,
        )
        print(json.dumps(res.__dict__))
    elif args.cmd == "search":
        store = search.load_store(args.store)
        q = pd.DataFrame(
            {"qid": range(len(args.query)), "query": args.query}
        )
        if args.type != "match" and (
            args.index or args.mode != "or" or args.algo != "wand"
        ):
            p.error(
                "--index/--mode/--algo apply to --type match only"
            )
        if args.type == "phrase":
            out = search.search_phrase(spark, store, q, k=args.k)
        elif args.type == "prefix":
            out = search.search_prefix(
                spark, store, q.rename(columns={"query": "prefix"}),
                k=args.k, max_expansions=args.max_expansions,
            )
        elif args.type == "fuzzy":
            out = search.search_fuzzy(
                spark, store, q.rename(columns={"query": "term"}),
                k=args.k, max_edits=args.max_edits,
                max_expansions=args.max_expansions,
            )
        else:
            out = search.search(spark, store, q, k=args.k,
                                mode=args.mode, algo=args.algo,
                                index=args.index)
        for r in out.orderBy("qid", "rank").collect():
            print(json.dumps(r.asDict()))
    elif args.cmd == "cdc":
        opts = json.loads(args.config)
        opts.setdefault("index", "docs")
        opts.setdefault("version_field", "version")
        cfg = IndexerConfig.from_dict(opts)
        res = cdc.apply_changes(
            spark.read.parquet(args.input), cfg, args.store,
            compact=args.compact,
        )
        print(json.dumps(res))
    elif args.cmd == "compact":
        cdc.compact_store(spark, args.store, num_buckets=args.buckets)
        print(json.dumps({"compacted": args.store}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
