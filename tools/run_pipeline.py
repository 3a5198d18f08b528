"""spark-submit entrypoint for the CDC streaming pipeline.

Cluster launch (the north-rule deployment shape):

    tools/package.sh   # -> dist/database_delta_plugins_spark.zip
    spark-submit \
        --py-files dist/database_delta_plugins_spark.zip \
        tools/run_pipeline.py \
        --event-log /data/binlog_shaped_events \
        --table /lake/pages --checkpoint /lake/pages_ckpt \
        --num-buckets 4096 --max-files-per-trigger 64 \
        --conf-arg source.connector.normalize_lang=true

Local smoke:

    python tools/run_pipeline.py --event-log <dir> --table <dir> \
        --checkpoint <dir> --master 'local[8]' --available-now

Runtime args after --conf-arg use the reference's
'source.connector.<knob>=<value>' override convention (C4).
"""
import os as _os, sys as _sys
_sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description="CDC event log -> lake table streaming apply")
    ap.add_argument("--event-log", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--master", default=None, help="default: existing session / local[CPUS]")
    ap.add_argument("--key", default="url")
    ap.add_argument("--num-buckets", type=int, default=32)
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    ap.add_argument("--salt-buckets", type=int, default=64)
    ap.add_argument("--write-mode", choices=["mor", "cow"], default="mor")
    ap.add_argument("--source-format", choices=["parquet", "json"],
                    default="parquet",
                    help="event-log encoding; json = Debezium-JSON-lines "
                         "(binary as base64)")
    ap.add_argument("--derive-text", action="store_true",
                    help="run extract_text(html) in the apply path")
    ap.add_argument("--normalize-lang", action="store_true")
    ap.add_argument("--available-now", action="store_true",
                    help="drain the log and exit (else run continuously)")
    ap.add_argument("--conf-arg", action="append", default=[],
                    metavar="K=V", help="runtime arg, e.g. source.connector.num_buckets=64")
    ap.add_argument("--table-map", action="append", default=[],
                    metavar="NAME=PATH",
                    help="multi-table replication: route DML/DDL with "
                         "table_name NAME into the LakeTable at PATH "
                         "(repeatable; overrides --table)")
    ap.add_argument("--ddl-blacklist", default="",
                    help="comma-separated DDL actions to skip "
                         "(create_table is never blacklistable)")
    ap.add_argument("--dml-blacklist", default="",
                    help="comma-separated op types to skip, e.g. D")
    args = ap.parse_args()

    from database_delta_plugins_spark.session import get_spark
    from database_delta_plugins_spark.streaming.pipeline import CDCPipeline

    runtime_args = dict(kv.split("=", 1) for kv in args.conf_arg)
    spark = get_spark(master=args.master, app_name="cdc-pipeline")
    pipe = CDCPipeline(
        spark, args.event_log, args.table, args.checkpoint,
        key=args.key, num_buckets=args.num_buckets,
        max_files_per_trigger=args.max_files_per_trigger,
        salt_buckets=args.salt_buckets,
        derive_text_from_html=args.derive_text,
        normalize_lang=args.normalize_lang,
        write_mode=args.write_mode,
        source_format=args.source_format,
        runtime_args=runtime_args,
        tables=(dict(kv.split("=", 1) for kv in args.table_map)
                if args.table_map else None),
        ddl_blacklist=(set(args.ddl_blacklist.split(","))
                       if args.ddl_blacklist else None),
        dml_blacklist=(set(args.dml_blacklist.split(","))
                       if args.dml_blacklist else None),
    )
    pipe.bootstrap(replicate_existing_data=False)
    q = pipe.start(available_now=args.available_now, with_metrics=True)
    q.awaitTermination()
    from database_delta_plugins_spark.lake.table import LakeTable

    target = (args.table_map[0].split("=", 1)[1] if args.table_map
              else args.table)
    t = LakeTable.load(spark, target)
    print(json.dumps({
        "table_version": t.version,
        "epochs": len(t.committed_epochs()),
        "rows_visible": t.read().count(),
        "stream_applied_rows": (pipe.listener.total_applied_rows()
                                if pipe.listener else None),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
