"""CLI mirroring the reference's three binaries plus the query surface.

    python -m globallinks_spark importer <archive> <data_dir> [maxfiles] [segment...]
    python -m globallinks_spark fetch  <archive> <data_dir> [segment]
    python -m globallinks_spark import <out_dir> <segment> <wat_file...>
    python -m globallinks_spark compact <out_dir> <segment>
    python -m globallinks_spark store <out_dir> <serving_path> [buckets]
    python -m globallinks_spark query <serving_path> <domain> [limit] [page]
    python -m globallinks_spark serve <serving_path> [port] [certfile keyfile]
    python -m globallinks_spark sql <data_dir> <query> [limit]
    python -m globallinks_spark curate <data_dir> <out_dir> [n_shards]
    python -m globallinks_spark explain <data_dir> <query_name> [mode|audit]

(reference: cmd/importer, cmd/importer compacting mode, cmd/storelinks,
cmd/linksapi — /root/reference/cmd/*/main.go)
"""

from __future__ import annotations

import sys


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__)
        return 2
    cmd = argv[1]
    # the linksapi half reads parquet with pyarrow: no SparkSession, no JVM
    if cmd == "query" and len(argv) >= 4:
        from globallinks_spark.operators import linkdb as L

        q = L.LinkQuery(argv[3], *map(int, argv[4:6]))  # limit, page
        for line in L.to_json_response(L.query_serving(argv[2], q)):
            print(line)
        return 0
    if cmd == "serve" and len(argv) in (3, 4, 6):
        from globallinks_spark.httpapi import serve

        # port, then the TLS certfile and keyfile
        serve(argv[2], int(argv[3]) if len(argv) > 3 else 8010, *argv[4:])
        return 0

    from globallinks_spark import runner
    from globallinks_spark.session import get_spark

    spark = get_spark(app_name=f"globallinks_{cmd}")
    if cmd == "importer" and len(argv) >= 4:
        max_files = int(argv[4]) if len(argv) > 4 else None
        segments = argv[5:] or None
        done = runner.run_archive(
            spark, argv[2], argv[3], max_files=max_files,
            segments=segments,
            max_segments=len(segments) if segments else 1,
        )
        for s in done:
            print(s)
    elif cmd == "fetch" and len(argv) in (4, 5):
        local = runner.run_fetch(
            spark, argv[2], argv[3], argv[4] if len(argv) == 5 else None
        )
        for p in local:
            print(p)
    elif cmd == "import" and len(argv) >= 5:
        runner.run_import(spark, argv[4:], argv[2], argv[3])
    elif cmd == "compact" and len(argv) == 4:
        runner.run_compact(spark, argv[2], argv[3])
    elif cmd == "store" and len(argv) in (4, 5):
        buckets = int(argv[4]) if len(argv) == 5 else None  # None → auto
        runner.run_store(spark, argv[2], argv[3], buckets)
    elif cmd == "sql" and len(argv) in (4, 5):
        from globallinks_spark.queries import register_views

        register_views(spark, argv[2])
        limit = int(argv[4]) if len(argv) == 5 else 1000
        for line in (
            spark.sql(argv[3]).limit(limit).toJSON().collect()
        ):
            print(line)
    elif cmd == "curate" and len(argv) in (4, 5):
        from globallinks_spark.queries import load
        from globallinks_spark.queries_ext import q_curation_pipeline
        from globallinks_spark.sources.corpus_sink import (
            read_shard_manifest,
            write_training_shards,
        )

        kept = q_curation_pipeline(spark, argv[2]).select("doc_id", "split")
        docs = load(spark, argv[2], "documents").join(kept, "doc_id")
        write_training_shards(
            docs, argv[3],
            n_shards=int(argv[4]) if len(argv) == 5 else 16,
        )
        for line in (
            read_shard_manifest(spark, argv[3])
            .orderBy("split", "shard").toJSON().collect()
        ):
            print(line)
    elif cmd == "explain" and len(argv) in (4, 5):
        # plan inspection for any catalog query — the feedback loop the
        # scale docs tell users to run before shipping a new operator
        from globallinks_spark.plans.explain import plan_string
        from globallinks_spark.queries import FULL_REGISTRY as REGISTRY

        name = argv[3]
        if name not in REGISTRY:
            print(f"unknown query {name!r}; available: "
                  + ", ".join(sorted(REGISTRY)))
            return 2
        mode = argv[4] if len(argv) == 5 else "formatted"
        modes = ("simple", "extended", "codegen", "cost", "formatted",
                 "audit")
        if mode not in modes:
            print(f"unknown mode {mode!r}; one of: {', '.join(modes)}")
            return 2
        if mode == "audit":
            # structured anti-pattern findings instead of the raw plan
            import json as _json

            from globallinks_spark.plans.explain import audit

            for f in audit(REGISTRY[name].fn(spark, argv[2])):
                print(_json.dumps(f))
        else:
            print(plan_string(REGISTRY[name].fn(spark, argv[2]), mode))
    else:
        print(__doc__)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
