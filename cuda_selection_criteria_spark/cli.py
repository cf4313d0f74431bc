"""CLI entry points (spark-submit friendly).

Examples
--------
Local:
  python -m cuda_selection_criteria_spark.cli dedup \
      --input /data/pages.parquet --warehouse /data/wh --tau 0.9 --m 64

Cluster (north_rule launch shape): build the zip with
``python tools/make_pyfiles.py`` first, then
  spark-submit --py-files cuda_selection_criteria_spark.zip \
      -m cuda_selection_criteria_spark.cli ... (or point spark-submit at
      this file); all heavy code ships in the zip, no cluster-side pip.

Subcommands mirror the reference binaries: ``sketch`` ~ build_sketch,
``dedup`` ~ selection + clustering, ``gen-corpus`` builds the
deterministic synthetic pages table.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _cfg(args):
    from .oracle import DedupConfig

    return DedupConfig(
        tau=args.tau,
        shingle_k=args.shingle_k,
        smh_m=args.m,
        hll_p=14,
        criterion=getattr(args, "criterion", "smh_a"),
    )


def cmd_gen_corpus(args) -> None:
    from .pipeline import pages_from_corpus
    from .session import get_spark
    from .warehouse import observe_rows

    spark = get_spark(master=args.master)
    df, obs = observe_rows(pages_from_corpus(spark, args.rows, args.seed, partitions=args.partitions))
    df.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": obs.get["rows"], "output": args.output}))


def cmd_sketch(args) -> None:
    from .session import get_spark
    from .warehouse import Warehouse, sketch_with_resume

    spark = get_spark(master=args.master)
    wh = Warehouse(spark, args.warehouse)
    pages = spark.read.parquet(args.input)
    t0 = time.time()
    sk = sketch_with_resume(wh, pages, _cfg(args), n_parts=args.parts)
    print(json.dumps({"sketches": sk.count(), "wall_s": round(time.time() - t0, 2)}))


def cmd_dedup(args) -> None:
    from .pipeline import dedup_from_sketches, dedup_pipeline
    from .session import get_spark
    from .warehouse import Warehouse, sketch_with_resume

    spark = get_spark(master=args.master)
    pages = spark.read.parquet(args.input)
    t0 = time.time()
    # (config-mismatched resumes — e.g. dedup -c hll_a over a warehouse
    # sketched under smh_a — are refused by sketch_with_resume's
    # sketch_meta identity check with accurate guidance)
    if args.resume:
        # checkpoint-resume path: sketches materialize into the
        # warehouse per part_id; a re-run after a kill skips completed
        # parts and selection runs from the persisted table
        wh0 = Warehouse(spark, args.warehouse)
        sk = sketch_with_resume(wh0, pages, _cfg(args), n_parts=args.parts)
        res = dedup_from_sketches(
            sk,
            _cfg(args),
            max_band_bucket=args.max_band_bucket,
            bucket_pairing=args.bucket_pairing,
            salt_target=args.salt_target,
        )
    else:
        res = dedup_pipeline(
            pages,
            _cfg(args),
            max_band_bucket=args.max_band_bucket,
            bucket_pairing=args.bucket_pairing,
            salt_target=args.salt_target,
        )
    wh = Warehouse(spark, args.warehouse)
    n_pairs = wh.write("dup_pairs", res.dup_pairs)
    n_cluster_rows = wh.write("clusters", res.clusters)
    wall = time.time() - t0
    n_pages = pages.count()
    wh.log_metric("cli", "dedup_e2e", wall, n_pages, n_pairs, spark.sparkContext.defaultParallelism)
    print(
        json.dumps(
            {
                "pages": n_pages,
                "dup_pairs": n_pairs,
                "cluster_rows": n_cluster_rows,
                "wall_s": round(wall, 2),
                "docs_per_sec": round(n_pages / wall, 1),
            }
        )
    )


def cmd_textops(args) -> None:
    """Training-data operators over a documents/embeddings parquet —
    the library surface reachable from spark-submit without writing a
    driver script. ``--op`` selects the family; output is parquet."""
    from .session import get_spark
    from .warehouse import observe_rows

    spark = get_spark(master=args.master)
    src = spark.read.parquet(args.input)
    t0 = time.time()
    if args.op == "exact":
        from .functions import exact_dup_groups

        df = exact_dup_groups(src)
    elif args.op == "ngram":
        from .functions import ngram_jaccard_pairs

        df = ngram_jaccard_pairs(
            src,
            k=args.ngram_k,
            min_jaccard=args.min_jaccard,
            max_df=args.max_df,
            key=args.ngram_key,
        )
    elif args.op == "simhash":
        from .functions import simhash_pairs

        df = simhash_pairs(src, max_hamming=args.max_hamming)
    elif args.op == "winnow":
        from .functions.winnow import winnow_overlap_pairs

        df = winnow_overlap_pairs(src, max_df=args.max_df)
    elif args.op == "spans":
        from .functions.substr import duplicated_spans

        df = duplicated_spans(src, min_len=args.min_len, min_count=args.min_count)
    elif args.op == "knn":
        from .functions import embedding_knn

        df = embedding_knn(src, k=args.k)
    elif args.op == "ivf":
        from .functions.ivf import embedding_ivf_topk

        df = embedding_ivf_topk(src, k=args.k)
    elif args.op == "lsh":
        from .functions import embedding_lsh_candidates

        df = embedding_lsh_candidates(src)
    elif args.op == "simpairs":
        from .functions import embedding_sim_pairs

        df = embedding_sim_pairs(src, min_sim=args.min_sim, method=args.sim_method)
    else:  # pragma: no cover - argparse choices guard this
        raise SystemExit(f"unknown op {args.op}")
    df, obs = observe_rows(df)
    df.write.mode("overwrite").parquet(args.output)
    print(
        json.dumps(
            {
                "op": args.op,
                "rows": obs.get["rows"],
                "output": args.output,
                "wall_s": round(time.time() - t0, 2),
            }
        )
    )


def main(argv=None) -> None:
    from .oracle import CRITERIA

    p = argparse.ArgumentParser(prog="cuda_selection_criteria_spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen-corpus")
    g.add_argument("--rows", type=int, default=2000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--partitions", type=int, default=None)
    g.add_argument("--output", required=True)
    g.set_defaults(fn=cmd_gen_corpus)

    for name, fn in (("sketch", cmd_sketch), ("dedup", cmd_dedup)):
        s = sub.add_parser(name)
        s.add_argument("--input", required=True)
        s.add_argument("--warehouse", required=True)
        s.add_argument("--tau", type=float, default=0.9)
        s.add_argument("--shingle-k", type=int, default=31)
        s.add_argument("--m", type=int, default=64)
        s.add_argument("--parts", type=int, default=32, help="resume parts: a power of two, at most 65,536")
        s.add_argument(
            "-c",
            "--criterion",
            choices=CRITERIA,
            default="smh_a",
            help="selection criterion, mirroring the reference's -c flag "
            "(/root/reference/src/selection.cpp:107-111): smh_a = LSH band "
            "collision; hll_a/hll_an = auxiliary p=8 HLL union bound; cb = "
            "cardinality bound only",
        )
        s.add_argument("--max-band-bucket", type=int, default=None)
        s.add_argument(
            "--salt-target",
            type=int,
            default=None,
            help="two-level salting of hot candidate buckets (band buckets, or "
            "log-cardinality buckets for hll_a/hll_an/cb): buckets larger than "
            "this split into salt blocks (see candidate_pairs); for "
            "hll_a/hll_an/cb this splits the CB tiles, each otherwise one "
            "bucket held by one Python worker; star pairing ignores it",
        )
        s.add_argument(
            "--bucket-pairing",
            choices=["all", "star"],
            default="all",
            help="all = reference-parity pair emission; star = linear-output scale mode",
        )
        s.add_argument(
            "--resume",
            action="store_true",
            help="materialize sketches into the warehouse with per-part lineage; re-runs skip completed parts",
        )
        s.set_defaults(fn=fn)

    t = sub.add_parser(
        "textops",
        help="training-data operators (dedup families / ANN) over a parquet table",
    )
    t.add_argument("--input", required=True, help="documents (or embeddings for knn/ivf/lsh) parquet")
    t.add_argument("--output", required=True)
    t.add_argument(
        "--op",
        required=True,
        choices=[
            "exact", "ngram", "simhash", "winnow", "spans", "knn", "ivf", "lsh",
            "simpairs",
        ],
    )
    t.add_argument("--min-sim", type=float, default=0.45, help="simpairs cosine threshold")
    t.add_argument("--k", type=int, default=1, help="knn/ivf: neighbors per vector")
    t.add_argument(
        "--sim-method",
        choices=["exact", "lsh"],
        default="exact",
        help="simpairs: exact = all-pairs broadcast matmul (bounded); "
        "lsh = hyperplane candidates + exact verify (scale path)",
    )
    t.add_argument("--ngram-k", type=int, default=5)
    t.add_argument(
        "--ngram-key",
        choices=["hash", "gram"],
        default="hash",
        help="ngram: shingle key for the distinct/df/intersection "
        "shuffles. 'hash' (default since round 4 — note: a DEFAULT "
        "FLIP from the earlier bit-exact 'gram') carries 8-byte "
        "xxhash64 keys, exact up to a 2^-64 per-pair collision; "
        "'gram' keeps raw k-char shingles for bit-exact results",
    )
    t.add_argument("--min-jaccard", type=float, default=0.5)
    t.add_argument("--max-df", type=int, default=100)
    t.add_argument("--max-hamming", type=int, default=3)
    t.add_argument("--min-len", type=int, default=20)
    t.add_argument("--min-count", type=int, default=2)
    t.set_defaults(fn=cmd_textops)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
