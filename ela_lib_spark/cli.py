"""spark-submit entrypoint (north star: `spark-submit --py-files
ela_lib_spark.zip ela_lib_spark/cli.py <cmd> ...`).

Subcommands mirror the reference's task actions
(/root/reference/config/cfg.go:5-13: copy_index, sync, sync_diff,
compare, import, export, create_template) plus the internalized search
engine (build_index, query, synth).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None, spark=None):
    """CLI dispatch. `spark` injection is for in-process tests — when
    provided, the session is neither created nor stopped here."""
    p = argparse.ArgumentParser(prog="ela_lib_spark")
    p.add_argument("--master", default=None)
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth", help="generate deterministic web_pages parquet")
    s.add_argument("out")
    s.add_argument("--n-docs", type=int, default=10000)

    b = sub.add_parser("build_index")
    b.add_argument("pages")
    b.add_argument("out")
    b.add_argument("--n-buckets", type=int, default=32)
    b.add_argument("--n-shards", type=int, default=8)
    b.add_argument("--use-html", action="store_true")
    b.add_argument("--resume", action="store_true")

    q = sub.add_parser("query")
    q.add_argument("index_dir")
    q.add_argument("terms", nargs="+")
    q.add_argument("--mode", default="OR", choices=["OR", "AND"])
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--min-match", type=int, default=None,
                   help="require >= m of the n terms (m-of-n semantics)")

    c = sub.add_parser("compare")
    c.add_argument("src")
    c.add_argument("tgt")
    c.add_argument("--key", default="url")

    sd = sub.add_parser("sync_diff")
    sd.add_argument("src")
    sd.add_argument("tgt")
    sd.add_argument("out")
    sd.add_argument("--key", default="url")

    e = sub.add_parser("export")
    e.add_argument("src")
    e.add_argument("out")
    e.add_argument("--index-name", default="export")
    e.add_argument("--key", default="url")

    i = sub.add_parser("import")
    i.add_argument("src_dir")
    i.add_argument("out")

    sy = sub.add_parser("sync", help="copy_index/sync: bulk copy src → tgt")
    sy.add_argument("src")
    sy.add_argument("out")
    sy.add_argument("--mode", default="append", choices=["append", "overwrite"])

    ct = sub.add_parser(
        "create_template",
        help="stamp an empty dataset with the schema of the index matching "
             "the glob patterns (migrator.go:590-635 resolution)",
    )
    ct.add_argument("warehouse")
    ct.add_argument("out")
    ct.add_argument("patterns", nargs="+")

    h = sub.add_parser("history", help="list the index's snapshot log")
    h.add_argument("index_dir")

    d = sub.add_parser(
        "delta",
        help="apply a parquet micro-batch to the index as a delta epoch "
             "(append / url-keyed upsert / delete)",
    )
    d.add_argument("batch")
    d.add_argument("index_dir")
    d.add_argument("epoch", type=int)
    d.add_argument("--mode", default="append",
                   choices=["append", "upsert", "delete"])
    d.add_argument("--n-buckets", type=int, default=8)

    co = sub.add_parser(
        "compact",
        help="compact delta epochs into the index (minor = O(delta) tier "
             "merge; major = full re-merge, purges tombstones)",
    )
    co.add_argument("index_dir")
    co.add_argument("--mode", default="auto",
                    choices=["auto", "minor", "major", "gc"])
    co.add_argument("--n-shards", type=int, default=None,
                    help="default: the manifest's shard count")

    v = sub.add_parser(
        "validate",
        help="index integrity check (manifest/dirs/stats/tombstones; "
             "--deep decodes every posting block)",
    )
    v.add_argument("index_dir")
    v.add_argument("--deep", action="store_true")

    g = sub.add_parser(
        "gc",
        help="chunk-store rewrite: purge tombstones, consolidate delta "
             "epochs, truncate the delete log (Lucene segment-rewrite analog)",
    )
    g.add_argument("index_dir")
    g.add_argument("--n-shards", type=int, default=None,
                   help="default: the manifest's shard count")

    sn = sub.add_parser(
        "snapshots",
        help="snapshot retention: `retention --keep N` makes GC/major "
             "preserve dirs the N newest snapshots reference; `expire "
             "[--keep N]` drops older snapshots and frees their dirs",
    )
    sn.add_argument("verb", choices=["retention", "expire"])
    sn.add_argument("index_dir")
    sn.add_argument("--keep", type=int, default=None,
                    help="retention window (expire defaults to the "
                         "manifest's configured window)")

    args = p.parse_args(argv)

    if args.cmd == "snapshots":  # pure metadata/filesystem — no session
        from ela_lib_spark.streaming.incremental import (
            expire_snapshots,
            set_snapshot_retention,
        )

        if args.verb == "retention":
            if args.keep is None:
                p.error("snapshots retention requires --keep N")
            print(json.dumps(set_snapshot_retention(args.index_dir,
                                                    args.keep)))
        else:
            print(json.dumps(expire_snapshots(args.index_dir, args.keep)))
        return 0

    if args.cmd == "history":  # pure metadata — no session needed
        from ela_lib_spark.index.build import read_manifest

        m = read_manifest(args.index_dir) or {}
        print(json.dumps({
            "current": m.get("snapshot_id"),
            "history": m.get("history", []),
            "n_docs": m.get("n_docs"),
            "postings_dir": m.get("postings_dir"),
        }))
        return 0

    owns_session = spark is None
    if owns_session:
        from ela_lib_spark.session import get_spark

        master = args.master or (f"local[{args.cpus}]" if args.cpus else None)
        spark = get_spark("ela_lib_spark_cli", master=master)

    if args.cmd == "synth":
        from ela_lib_spark.sources.synth import write_web_pages

        write_web_pages(spark, args.n_docs, args.out)
        print(json.dumps({"written": args.n_docs, "path": args.out}))
    elif args.cmd == "build_index":
        from ela_lib_spark.index.build import build_index

        pages = spark.read.parquet(args.pages)
        m = build_index(
            spark, pages, args.out, n_buckets=args.n_buckets,
            n_shards=args.n_shards, use_html=args.use_html, resume=args.resume,
        )
        print(json.dumps(m))
    elif args.cmd == "delta":
        from ela_lib_spark.streaming.incremental import apply_delta_batch

        batch = spark.read.parquet(args.batch)
        apply_delta_batch(batch, args.epoch, args.index_dir,
                          n_buckets=args.n_buckets, mode=args.mode)
        print(json.dumps({"epoch": args.epoch, "mode": args.mode}))
    elif args.cmd == "compact":
        from ela_lib_spark.streaming.incremental import compact_index

        res = compact_index(spark, args.index_dir, n_shards=args.n_shards,
                            mode=args.mode)
        print(json.dumps(res))
    elif args.cmd == "validate":
        from ela_lib_spark.index.validate import validate_index

        res = validate_index(spark, args.index_dir, deep=args.deep)
        print(json.dumps(res))
        if not res["ok"]:
            if owns_session:
                spark.stop()
            return 1
    elif args.cmd == "gc":
        from ela_lib_spark.streaming.incremental import gc_index

        print(json.dumps(gc_index(spark, args.index_dir,
                                  n_shards=args.n_shards)))
    elif args.cmd == "query":
        from ela_lib_spark.index.build import load_index
        from ela_lib_spark.query.wand import wand_topk

        idx = load_index(spark, args.index_dir)
        rows = wand_topk(idx, args.terms, args.mode, args.k,
                         min_match=args.min_match).collect()
        for r in rows:
            print(json.dumps({"doc_id": r.doc_id, "score": r.score}))
    elif args.cmd == "compare":
        from ela_lib_spark.operators.diff import classify_diff, diff_result

        res = diff_result(
            classify_diff(
                spark.read.parquet(args.src), spark.read.parquet(args.tgt), args.key
            )
        )
        print(json.dumps(res))
    elif args.cmd == "sync_diff":
        from ela_lib_spark.operators.diff import sync_diff_apply

        out = sync_diff_apply(
            spark.read.parquet(args.src), spark.read.parquet(args.tgt), args.key
        )
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out}))
    elif args.cmd == "export":
        from ela_lib_spark.sources.ndjson import export_index

        m = export_index(
            spark.read.parquet(args.src), args.out, args.index_name, key=args.key
        )
        print(json.dumps({"total": m["total"], "files": len(m["files"])}))
    elif args.cmd == "import":
        from ela_lib_spark.sources.ndjson import import_index

        df, m = import_index(spark, args.src_dir)
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"imported": m["total"], "path": args.out}))
    elif args.cmd == "sync":
        from ela_lib_spark.operators.diff import sync_append

        src = spark.read.parquet(args.src)
        sync_append(src, args.out, mode=args.mode)
        print(json.dumps({"synced": src.count(), "path": args.out,
                          "mode": args.mode}))
    elif args.cmd == "create_template":
        import os as _os

        from ela_lib_spark.operators.taskrunner import (
            list_indexes,
            resolve_template_index,
        )
        from ela_lib_spark.sources.ndjson import create_table_like

        name = resolve_template_index(args.patterns, list_indexes(args.warehouse))
        if name is None:
            print(json.dumps({"error": "no index matches patterns"}))
            if owns_session:
                spark.stop()
            return 1
        src = spark.read.parquet(_os.path.join(args.warehouse, name))
        create_table_like(spark, src, args.out)
        print(json.dumps({"template_from": name, "path": args.out}))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
