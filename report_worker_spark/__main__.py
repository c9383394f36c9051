"""CLI: run the engine like the reference runs its worker.

    python -m report_worker_spark ingest --input DIR --out DIR
        [--players PARQUET] [--stream --checkpoint DIR] [--trigger 60]
    python -m report_worker_spark query NAME [--sf-dir DIR] [--limit 20]
    python -m report_worker_spark list-queries

``ingest`` consumes wire-format messages (parquet files with a JSON
``value`` column, the Kafka body shape) and upserts the star schema as
date-partitioned parquet. ``--stream`` tails the input directory as a
file stream (swap in sources.kafka.read_report_stream for a broker).
"""

from __future__ import annotations

import argparse
import sys


def _spark(app: str):
    from .session import get_spark

    return get_spark(app)


def cmd_ingest(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .sources import kafka as ksrc
    from .streaming.pipeline import (
        StarUpsertSink,
        date_partitioned_writer,
        wire_to_staging,
    )

    from .streaming.dimstore import ParquetDimStore
    from .transforms import sanitize_name

    spark = _spark("rws-ingest")
    store = ParquetDimStore(spark, f"{args.out}/_dims/players")
    if args.players and not store.exists():
        # seed the persistent dim from the provided snapshot
        spark.read.parquet(args.players).select("name", "id").write.mode(
            "append"
        ).parquet(store.path)

    writer = date_partitioned_writer(args.out)
    sink = StarUpsertSink(writer=writer)

    def process(batch, epoch_id):
        parsed = ksrc.parse_wire(batch)
        bad = ksrc.invalid_messages(parsed)
        n_bad = bad.count()
        if n_bad:
            ksrc.encode_dlq(bad).write.mode("append").parquet(f"{args.out}/dlq")
        msgs = ksrc.valid_messages(parsed)
        # persist first-seen reporter/reported names BEFORE resolving, so
        # ids are stable across batches and restarts (reference
        # get-or-insert semantics, MySQL replaced by the parquet store);
        # one explode emits both names from a single read of msgs
        v1_names = msgs.select(
            F.explode(
                F.array(sanitize_name("reporter"), sanitize_name("reported"))
            ).alias("name")
        ).filter(F.col("name").isNotNull())
        store.get_or_insert(v1_names)
        staging = wire_to_staging(msgs, store.read())
        record = sink(staging, epoch_id)
        print(f"epoch={epoch_id} invalid={n_bad} status={record['status']}")

    if args.stream:
        raw = (
            spark.readStream.text(args.input).withColumnRenamed("value", "value")
            if args.format == "jsonl"
            else spark.readStream.schema("msg_id long, value string").parquet(
                args.input
            )
        )
        q = (
            raw.writeStream.foreachBatch(process)
            .option("checkpointLocation", args.checkpoint or f"{args.out}/_ckpt")
            .trigger(processingTime=f"{args.trigger} seconds")
            .start()
        )
        q.awaitTermination()
    else:
        if args.format == "jsonl":
            raw = spark.read.text(args.input)  # one message per line
        else:
            raw = spark.read.parquet(args.input)
            if "value" not in raw.columns:
                raw = raw.select(F.to_json(F.struct(*raw.columns)).alias("value"))
        process(raw, 0)
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    from .plans import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    spark = _spark("rws-query")
    df = QUERIES[args.name](spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_list(_args: argparse.Namespace) -> int:
    from .plans import ORACLE, QUERIES

    for name in sorted(QUERIES):
        kind = "oracle" if name in ORACLE else "rows-only"
        print(f"{name}\t{kind}")
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    """Print the optimized physical plan for a named query — the
    surface for auditing pushdown/broadcast/codegen before a run.

    Caveat: driver-selection queries (stats_exact_median_twopass,
    stats_mad_robust — anything built on _select_kth) execute their
    selection jobs at DataFrame-construction time, so `explain` on
    them runs those scans before printing the (final-pass) plan."""
    from .plans import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    spark = _spark("rws-explain")
    df = QUERIES[args.name](spark, args.sf_dir)
    df.explain(mode=args.mode)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="report_worker_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="wire messages → star schema")
    pi.add_argument("--input", required=True)
    pi.add_argument("--out", required=True)
    pi.add_argument("--players", default=None)
    pi.add_argument(
        "--format", choices=["parquet", "jsonl"], default="parquet",
        help="wire input: parquet with a JSON value column, or raw JSONL",
    )
    pi.add_argument("--stream", action="store_true")
    pi.add_argument("--checkpoint", default=None)
    pi.add_argument("--trigger", type=int, default=60)
    pi.set_defaults(fn=cmd_ingest)

    pq = sub.add_parser("query", help="run a named catalog query")
    pq.add_argument("name")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pq.add_argument("--limit", type=int, default=20)
    pq.set_defaults(fn=cmd_query)

    pl = sub.add_parser("list-queries", help="list the query catalog")
    pl.set_defaults(fn=cmd_list)

    pe = sub.add_parser(
        "explain", help="print a named query's physical plan"
    )
    pe.add_argument("name")
    pe.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pe.add_argument(
        "--mode",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
        default="formatted",
    )
    pe.set_defaults(fn=cmd_explain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
