"""Command-line front end: run any declared query against a table
directory without writing driver code — the working surface a user of
the reference (notebook + SQL scripts) gets on day one.

    python -m prueba_tecnica_analista_etl_spark list
    python -m prueba_tecnica_analista_etl_spark run q_inner_join \
        --sf-dir /root/testdata/sf0.01 [--limit 20] [--out out.parquet]
    python -m prueba_tecnica_analista_etl_spark explain q_group_sample
    python -m prueba_tecnica_analista_etl_spark oracle q_inner_join

`run` prints the result as a table (or writes csv/parquet/json/orc
when --out is given, format by extension); `explain` prints the
formatted physical plan — the same plan text the repo's assertions
pin; `oracle` prints the query's DuckDB oracle SQL (its executable
documentation); `index` drives the on-disk IVF similarity index
lifecycle (build / search / append / drift / rebalance)::

    python -m prueba_tecnica_analista_etl_spark index build \
        --path /tmp/ivf --sf-dir /root/testdata/sf0.001
    python -m prueba_tecnica_analista_etl_spark index search \
        --path /tmp/ivf --vec-id 7 --nprobe 4
    python -m prueba_tecnica_analista_etl_spark index drift --path /tmp/ivf
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="prueba_tecnica_analista_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list declared queries")
    for name in ("run", "explain"):
        s = sub.add_parser(name)
        s.add_argument("query")
        s.add_argument(
            "--sf-dir", default="/root/testdata/sf0.001", dest="sf_dir"
        )
        if name == "run":
            s.add_argument("--limit", type=int, default=20)
            s.add_argument("--out", default=None)
    s = sub.add_parser("oracle")
    s.add_argument("query")
    s = sub.add_parser(
        "pretrain",
        help="full pretraining-data run: curate → decontaminate → "
        "split → pack → shard export, with conservation invariants",
    )
    s.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001", dest="sf_dir"
    )
    s.add_argument("--out-dir", required=True, dest="out_dir")
    s.add_argument("--shards", type=int, default=8)
    s = sub.add_parser(
        "index",
        help="on-disk IVF similarity index lifecycle: build / search "
        "/ append / drift / rebalance (operators/ivf_index.py)",
    )
    s.add_argument(
        "action",
        choices=["build", "search", "append", "drift", "rebalance"],
    )
    s.add_argument("--path", required=True, help="index directory")
    s.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001", dest="sf_dir"
    )
    s.add_argument(
        "--from",
        dest="src",
        default=None,
        help="parquet of (vec_id, embedding) rows for build/append "
        "(default: the corpus embeddings table)",
    )
    s.add_argument("--k", type=int, default=16)
    s.add_argument("--nprobe", type=int, default=4)
    s.add_argument("--topk", type=int, default=10)
    s.add_argument(
        "--vec-id",
        type=int,
        default=0,
        dest="vec_id",
        help="search: probe with this corpus vector's embedding",
    )
    return p


def _cmd_index(args, spark: SparkSession) -> int:
    import json

    from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
        ivf_append,
        ivf_drift_census,
        ivf_rebalance,
        ivf_search_index,
        ivf_write_index,
    )

    def emb_source():
        if args.src is not None:
            return spark.read.parquet(args.src)
        from prueba_tecnica_analista_etl_spark.sources.tables import _t

        return _t(spark, args.sf_dir, "embeddings")

    if args.action == "build":
        C = ivf_write_index(emb_source(), args.path, k=args.k)
        print(json.dumps({"built": args.path, "k": int(C.shape[0])}))
    elif args.action == "append":
        print(json.dumps(ivf_append(emb_source(), args.path)))
    elif args.action == "drift":
        print(json.dumps(ivf_drift_census(spark, args.path)))
    elif args.action == "rebalance":
        C = ivf_rebalance(spark, args.path, k=args.k)
        print(
            json.dumps({"rebalanced": args.path, "k": int(C.shape[0])})
        )
    else:  # search
        row = (
            emb_source()
            .filter(f"vec_id = {int(args.vec_id)}")
            .first()
        )
        if row is None:
            raise SystemExit(f"no vector with vec_id={args.vec_id}")
        ivf_search_index(
            spark,
            args.path,
            row["embedding"],
            nprobe=args.nprobe,
            topk=args.topk,
        ).show(args.topk, truncate=False)
    return 0


def _resolve(query: str):
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY

    if query not in REGISTRY:
        import difflib

        hint = difflib.get_close_matches(query, REGISTRY, n=3)
        raise SystemExit(
            f"unknown query {query!r}"
            + (f"; did you mean {', '.join(hint)}?" if hint else "")
        )
    return REGISTRY[query]


def main(
    argv: list[str] | None = None, spark: SparkSession | None = None
) -> int:
    args = _build_parser().parse_args(argv)
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY

    if args.cmd == "list":
        for name, spec in REGISTRY.items():
            kind = "oracle" if spec.oracle is not None else "rows-only"
            print(f"{name:28s} [{kind}] {spec.doc}")
        return 0

    if args.cmd == "pretrain":
        import json

        from prueba_tecnica_analista_etl_spark.pipelines.pretrain import (
            pretrain_run,
        )

        own = spark is None
        if own:
            from prueba_tecnica_analista_etl_spark.session import get_spark

            spark = get_spark(app_name="cli-pretrain")
        try:
            ledger = pretrain_run(
                spark, args.sf_dir, args.out_dir, n_shards=args.shards
            )
        finally:
            if own:
                spark.stop()
        print(json.dumps(ledger, indent=1))
        return 0

    if args.cmd == "index":
        own = spark is None
        if own:
            from prueba_tecnica_analista_etl_spark.session import get_spark

            spark = get_spark(app_name="cli-index")
        try:
            return _cmd_index(args, spark)
        finally:
            if own:
                spark.stop()

    spec = _resolve(args.query)
    out = getattr(args, "out", None)
    if out and not out.endswith(
        (".csv", ".parquet", ".json", ".jsonl", ".orc")
    ):
        # Fail on a typo'd extension BEFORE paying JVM startup.
        raise SystemExit(
            f"unsupported output extension for {out!r}: "
            "use .csv, .parquet, .json/.jsonl or .orc"
        )
    if args.cmd == "oracle":
        if spec.oracle is None:
            raise SystemExit(
                f"{args.query} is rows-only (no SQL-expressible oracle)"
            )
        print(spec.oracle.strip())
        return 0

    own_session = spark is None
    if own_session:
        from prueba_tecnica_analista_etl_spark.session import get_spark

        spark = get_spark(app_name=f"cli-{args.cmd}")
    try:
        import time

        t0 = time.perf_counter()
        df = spec.fn(spark, args.sf_dir)
        if args.cmd == "explain":
            df.explain(mode="formatted")
        elif args.out:
            if args.out.endswith(".csv"):
                from prueba_tecnica_analista_etl_spark.sources.csv import (
                    write_csv,
                )

                write_csv(df, args.out)
            elif args.out.endswith(".parquet"):
                df.write.mode("overwrite").parquet(args.out)
            elif args.out.endswith((".json", ".jsonl")):
                df.write.mode("overwrite").json(args.out)
            else:  # pre-validated above: only .orc remains
                df.write.mode("overwrite").orc(args.out)
            print(f"wrote {args.out}")
        else:
            df.show(args.limit, truncate=False)
        if args.cmd == "run":
            # Query wall (build + execute, excluding JVM/session
            # startup) to STDERR — stdout stays machine-consumable.
            print(
                f"[{args.query}] query wall: "
                f"{time.perf_counter() - t0:.2f} s",
                file=sys.stderr,
            )
    finally:
        if own_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
