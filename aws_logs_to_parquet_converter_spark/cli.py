"""Compacter CLI — the reference's entry point, Spark-first.

Same flag surface as ``scripts/oss_s3_server_side_logging_compacter.py``
(argparse block :305-371, usage README.md:52-61), same daily loop
semantics (half-open [min-date, max-date), one overwrite-idempotent
unit per day) — but each day is ONE Catalyst plan:

    list paths -> spark.read.text -> native-expression parse ->
    repartition(n).sortWithinPartitions.write.partitionBy('dt')

versus the reference's boto3-in-flatMap RDD path (zero Python-worker
crossings here).  Differences, deliberate:
  * one SparkSession reused across days (the reference rebuilds one per
    day, compacter.py:184-196,263-266);
  * a failed day is reported and the loop continues (the reference
    swallows the whole run's exception, :358-371);
  * ``--source-root`` generalizes the source to any Hadoop-readable
    filesystem (local/s3a/...).
"""

from __future__ import annotations

import argparse
import datetime
import sys

from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators.compact import (
    compact,
    find_fragmented_partitions,
    recompact_partition,
)
from aws_logs_to_parquet_converter_spark.session import apply_s3a_conf, get_spark, s3a_hadoop_conf
from aws_logs_to_parquet_converter_spark.sources.listing import list_day_paths
from aws_logs_to_parquet_converter_spark.sources.parse import parse_lines, read_raw_logs


def date_range(min_date: str, max_date: str) -> list[str]:
    """Half-open [min, max) day list (reference date_iterator, :269-273)."""
    fmt = "%Y-%m-%d"
    start = datetime.datetime.strptime(min_date, fmt)
    end = datetime.datetime.strptime(max_date, fmt)
    out = []
    while start < end:
        out.append(start.strftime(fmt))
        start += datetime.timedelta(days=1)
    return out


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="compact-s3-access-logs")
    # reference flag surface (compacter.py:311-350)
    p.add_argument("--aws-config", default="",
                   help="path to the reference's JSON credentials file "
                        "({accessKeyId, secretAccessKey, region}, README.md:63-71); "
                        "mapped to fs.s3a confs — the drop-in equivalent of the "
                        "reference's boto3 client keys (compacter.py:311-317). "
                        "Omit to use the default provider chain (instance "
                        "profile / env), the recommended posture.")
    p.add_argument("--source-access-log-bucket", required=True,
                   help="bucket/dir holding raw S3 server-side log objects")
    p.add_argument("--source-bucket", required=True,
                   help="the monitored bucket (log key prefix)")
    p.add_argument("--destination-log-bucket", required=True,
                   help="bucket/dir for compacted parquet")
    p.add_argument("--destination-log-prefix",
                   default="teams/metrics-data/s3_server_side_access_logs")
    p.add_argument("--num-output-files", default=10, type=int)
    p.add_argument("--min-date", required=True, help="inclusive YYYY-MM-DD")
    p.add_argument("--max-date", required=True, help="exclusive YYYY-MM-DD")
    # rebuild extensions
    p.add_argument("--source-root", default="",
                   help="filesystem root holding the source bucket dir "
                        "(empty => source-access-log-bucket is an absolute path/URI)")
    return p


def _parse_with_delivery_dt(spark, paths):
    """Parse raw objects; dt = the object's delivery day from its name
    (``<bucket>/<YYYY-MM-DD>-<HH-MM-SS>-...``), exactly the reference's
    partitioning unit (compacter.py:212-213,246-251).  Event-time
    partitioning (parse.with_dt) stays available as the library option;
    delivery-day keeps dead-letter rows inside their day partition too.
    """
    df = parse_lines(read_raw_logs(spark, paths))
    return df.withColumn(
        "dt", F.regexp_extract(F.input_file_name(), r"/(\d{4}-\d{2}-\d{2})-[^/]*$", 1)
    )


def aws_config_to_s3a(path: str) -> dict[str, str]:
    """Load the reference's ``--aws-config`` JSON file and map it to an
    s3a conf dict (``session.s3a_hadoop_conf``).  Pure construction —
    no network; unit-tested without S3."""
    import json

    with open(path) as fh:
        cfg = json.load(fh)
    return s3a_hadoop_conf(
        access_key=cfg.get("accessKeyId"),
        secret_key=cfg.get("secretAccessKey"),
        session_token=cfg.get("sessionToken"),
        region=cfg.get("region"),
    )


def run(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="s3_server_side_log_compacter")
    if args.aws_config:
        apply_s3a_conf(spark, aws_config_to_s3a(args.aws_config))
    root = args.source_root or args.source_access_log_bucket
    dest = f"{args.destination_log_bucket}/{args.destination_log_prefix}/{args.source_bucket}"
    failures = 0
    for dt in date_range(args.min_date, args.max_date):
        try:
            paths = list_day_paths(root, args.source_bucket, dt)
            if not paths:
                print(f"{dt}: no input objects, skipping")
                continue
            compact(_parse_with_delivery_dt(spark, paths), dest, num_files=args.num_output_files)
            print(f"{dt}: {len(paths)} object(s) compacted")
        except Exception as e:  # fail loudly per-day, keep going (D5 fix)
            failures += 1
            print(f"{dt}: FAILED: {e}", file=sys.stderr)
    return 1 if failures else 0


def build_maintenance_parser() -> argparse.ArgumentParser:
    """``maintain`` subcommand: the operational other half of the
    reference's compaction story (README.md:52-61 runs the compacter
    daily; this finds and repairs the small-file drift streaming
    appends and late-data re-runs leave behind)."""
    p = argparse.ArgumentParser(prog="compact-s3-access-logs maintain")
    p.add_argument("--dest", default="",
                   help="compacted table root (the CLI's "
                        "<destination-log-bucket>/<prefix>/<source-bucket>); "
                        "required unless --validate-index")
    p.add_argument("--aws-config", default="",
                   help="same credentials file as the ingest command")
    p.add_argument("--max-files", default=10, type=int,
                   help="flag partitions with more parquet files than this")
    p.add_argument("--min-file-bytes", default=16 * 1024 * 1024, type=int,
                   help="flag partitions whose mean file size is below this")
    p.add_argument("--num-output-files", default=10, type=int,
                   help="files per partition after recompaction")
    p.add_argument("--dt", default="",
                   help="recompact exactly this day instead of scanning")
    p.add_argument("--dry-run", action="store_true",
                   help="list fragmented partitions, rewrite nothing")
    p.add_argument("--validate", action="store_true",
                   help="print a data-quality report for the table instead "
                        "of compacting (status domain, byte sanity, dt format)")
    p.add_argument("--validate-index", default="",
                   help="health-check a persisted index instead of the "
                        "warehouse: auto-detects MinHash (dedup."
                        "validate_minhash_index) vs PQ (similarity."
                        "validate_pq_index) from the stored params, prints "
                        "the report, exits nonzero on real corruption "
                        "(conflicting ids, bad lengths, orphan band rows)")
    p.add_argument("--expire-before", default="",
                   help="retention: drop dt= partitions strictly older than "
                        "this YYYY-MM-DD (honors --dry-run) instead of "
                        "compacting; catalog partitions need a follow-up "
                        "MSCK where a table exists")
    return p


LOG_TABLE_RULES = {
    # the compacted access-log table's integrity contract: every rule a
    # plain Catalyst expression (operators/validate.py)
    "status_domain": "http_status IS NULL OR (http_status BETWEEN 100 AND 599)",
    "bytes_nonnegative": "bytes_sent IS NULL OR bytes_sent >= 0",
    "dt_format": "dt IS NOT NULL AND CAST(dt AS STRING) RLIKE "
                 "'^[0-9]{4}-[0-9]{2}-[0-9]{2}$'",
    "time_parsed_or_deadletter": "request_time IS NOT NULL OR error_line IS NOT NULL",
}


def run_maintenance(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="s3_server_side_log_maintenance")
    if args.aws_config:
        apply_s3a_conf(spark, aws_config_to_s3a(args.aws_config))
    if args.validate_index:
        # index health, CLI-reachable for BOTH persisted index kinds —
        # the operational sibling of --validate for the warehouse; kind
        # sniffed from the self-describing params row.  A missing/
        # non-index path gets the same one-line-and-exit-2 treatment as
        # unrecognized params, not a raw Java traceback (a typo'd cron
        # path should read as a diagnostic)
        from aws_logs_to_parquet_converter_spark.operators import versioned

        try:
            cols = set(versioned.read_params(spark, args.validate_index))
        except Exception as e:
            print(f"no readable index params at {args.validate_index}: "
                  f"{getattr(e, 'desc', e)}".splitlines()[0], file=sys.stderr)
            return 2
        if "num_hashes" in cols:
            from aws_logs_to_parquet_converter_spark.operators.dedup import (
                validate_minhash_index,
            )

            rep = validate_minhash_index(spark, args.validate_index)
            corrupt = (
                rep["n_conflicting_ids"]
                + rep["n_bad_length_ids"]
                + rep["n_orphan_band_ids"]
            )
        elif "ks" in cols:
            from aws_logs_to_parquet_converter_spark.operators.similarity import (
                validate_pq_index,
            )

            rep = validate_pq_index(spark, args.validate_index)
            corrupt = rep["n_conflicting_ids"] + rep["n_bad_length_ids"]
        else:
            print(f"unrecognized index params at {args.validate_index}: "
                  f"{sorted(cols)}", file=sys.stderr)
            return 2
        for key, val in rep.items():
            print(f"{key}: {val}")
        if corrupt:
            print(f"INDEX CORRUPT: {corrupt} bad row group(s) — rebuild and "
                  "re-ingest the affected ids", file=sys.stderr)
            return 1
        return 0
    if not args.dest:
        print("maintain: --dest is required unless --validate-index",
              file=sys.stderr)
        return 2
    if args.expire_before:
        from aws_logs_to_parquet_converter_spark.operators.compact import (
            expire_partitions,
        )

        expired = expire_partitions(
            spark, args.dest, args.expire_before, dry_run=args.dry_run
        )
        verb = "would expire" if args.dry_run else "expired"
        for dt in expired:
            print(f"dt={dt}: {verb}")
        print(f"{verb}: {len(expired)} partition(s) older than {args.expire_before}")
        return 0
    if args.validate:
        from aws_logs_to_parquet_converter_spark.operators.validate import (
            validation_report,
        )

        df = spark.read.parquet(args.dest)
        report = validation_report(
            df, {name: F.expr(e) for name, e in LOG_TABLE_RULES.items()}
        )
        total_violations = 0
        for r in report.collect():
            print(f"{r.rule}: {r.n_violations}/{r.n_rows} ({r.violation_rate:.2%})")
            # gate on the COUNT, not the rounded rate: 3 violations in
            # 10M rows rounds to rate 0.0 and would exit 'healthy'
            # (round-7 review finding)
            total_violations += r.n_violations or 0
        return 1 if total_violations > 0 else 0
    if args.dt:
        if args.dry_run:
            print(f"dt={args.dt}: dry run, nothing rewritten")
            return 0
        n = recompact_partition(spark, args.dest, args.dt, num_files=args.num_output_files)
        print(f"{args.dt}: recompacted {n} row(s) -> {args.num_output_files} file(s)")
        return 0
    frags = find_fragmented_partitions(
        spark, args.dest, max_files=args.max_files, min_file_bytes=args.min_file_bytes
    )
    if not frags:
        print("no fragmented partitions")
        return 0
    failures = 0
    for f in frags:
        print(
            f"dt={f['dt']}: {f['n_files']} files, "
            f"{f['total_bytes']} bytes (avg {f['avg_bytes']})"
        )
        if args.dry_run:
            continue
        try:
            # size-derived file count, capped by --num-output-files: a
            # fixed count on a small partition leaves avg file size
            # below --min-file-bytes and the next maintain pass would
            # flag and fully rewrite it again, forever (round-7 review
            # finding)
            n_files = max(
                1,
                min(args.num_output_files, f["total_bytes"] // args.min_file_bytes),
            )
            n = recompact_partition(spark, args.dest, f["dt"], num_files=n_files)
            print(f"dt={f['dt']}: recompacted {n} row(s) -> {n_files} file(s)")
        except Exception as e:  # same per-unit error policy as the daily loop
            failures += 1
            print(f"dt={f['dt']}: FAILED: {e}", file=sys.stderr)
    return 1 if failures else 0


def build_corpus_parser() -> argparse.ArgumentParser:
    """``corpus`` subcommand: the training-data half's operational
    entry point, mirroring what the daily loop + ``maintain`` are for
    the log half — one command from a raw document table to deduped,
    quality-gated, shard-exported training data."""
    p = argparse.ArgumentParser(prog="compact-s3-access-logs corpus")
    p.add_argument("--src", required=True,
                   help="input documents table (doc_id, text, ... schema)")
    p.add_argument("--src-format", default="parquet",
                   choices=["parquet", "jsonl", "csv"],
                   help="jsonl/csv read through the dead-letter sources "
                        "(sources/jsonl.py, sources/csvfile.py) against the "
                        "documents schema; corrupt lines are COUNTED and "
                        "excluded, never silently dropped")
    p.add_argument("--dest", required=True, help="shard output directory")
    p.add_argument("--aws-config", default="",
                   help="same credentials file as the ingest command")
    p.add_argument("--n-shards", default=64, type=int)
    p.add_argument("--seed", default=42, type=int)
    p.add_argument("--dedup", default="exact", choices=["none", "exact", "fingerprint"],
                   help="exact = byte-identical text (keep smallest doc_id); "
                        "fingerprint = case/whitespace-normalized")
    p.add_argument("--min-quality", default=0.0, type=float,
                   help="drop documents scoring below this "
                        "(operators/textstats.quality_score, 0 disables)")
    p.add_argument("--gopher", action="store_true",
                   help="apply the published Gopher document rules "
                        "(textstats.gopher_quality_flags) as a hard gate")
    p.add_argument("--c4", action="store_true",
                   help="apply the C4 cleanup (textstats.c4_page_flags): "
                        "REWRITES text to the surviving lines, then drops "
                        "pages failing the sentence/lorem/brace/bad-word "
                        "rules")
    p.add_argument("--scrub-pii", action="store_true",
                   help="redact emails/phones/etc before export")
    p.add_argument("--near-dedup-index", default="",
                   help="path of a persisted MinHash-LSH index "
                        "(dedup.save_minhash_index): drop documents "
                        "near-duplicating the indexed corpus before export")
    p.add_argument("--near-dedup-threshold", default=0.5, type=float,
                   help="estimated-Jaccard cutoff for --near-dedup-index")
    p.add_argument("--near-dedup-update", action="store_true",
                   help="append the exported documents' signatures to "
                        "--near-dedup-index (stored params apply), so the "
                        "next export near-dedups against this one")
    p.add_argument("--ann-index", default="",
                   help="path of a persisted PQ index "
                        "(similarity.save_pq_index): without --ann-build, "
                        "drop documents whose embedding has an indexed "
                        "neighbor with sim >= --ann-threshold (the semantic "
                        "history gate; index once, probe daily)")
    p.add_argument("--ann-build", action="store_true",
                   help="BUILD/refresh the PQ index at --ann-index from the "
                        "exported documents' embeddings instead of probing")
    p.add_argument("--ann-update", action="store_true",
                   help="after a probing export, append the survivors' "
                        "embeddings to --ann-index (encoded with the stored "
                        "codebook), so the next export gates against this one")
    p.add_argument("--ann-threshold", default=0.9, type=float,
                   help="ADC-cosine cutoff for the --ann-index gate")
    p.add_argument("--ann-m", default=8, type=int,
                   help="PQ subspaces for --ann-build (embedding dim must "
                        "divide evenly)")
    p.add_argument("--ann-ks", default=256, type=int,
                   help="PQ codewords per subspace for --ann-build")
    p.add_argument("--embedding-col", default="embedding")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    return p


def run_corpus(args: argparse.Namespace) -> int:
    from aws_logs_to_parquet_converter_spark.operators import dedup as dedup_ops
    from aws_logs_to_parquet_converter_spark.operators.sampling import (
        write_training_shards,
    )
    from aws_logs_to_parquet_converter_spark.operators.scrub import scrub_pii
    from aws_logs_to_parquet_converter_spark.operators.textstats import quality_score

    spark = get_spark(app_name="corpus_export")
    if args.aws_config:
        apply_s3a_conf(spark, aws_config_to_s3a(args.aws_config))
    if args.src_format == "parquet":
        df = spark.read.parquet(args.src)
    else:
        from aws_logs_to_parquet_converter_spark.sources.jsonl import (
            DOCUMENT_SCHEMA,
            read_jsonl,
            split_corrupt,
        )

        if args.src_format == "jsonl":
            raw = read_jsonl(spark, args.src, DOCUMENT_SCHEMA)
        else:
            from aws_logs_to_parquet_converter_spark.sources.csvfile import (
                read_csv_deadletter,
            )

            raw = read_csv_deadletter(spark, args.src, DOCUMENT_SCHEMA, header=True)
        df, dead = split_corrupt(raw)
        n_dead = dead.count()
        if n_dead:
            print(f"corpus: {n_dead} corrupt {args.src_format} line(s) excluded",
                  file=sys.stderr)
    if args.min_quality > 0:
        df = df.where(quality_score(F.col(args.text_col)) >= args.min_quality)
    if args.gopher:
        from aws_logs_to_parquet_converter_spark.operators.textstats import gopher_keep

        # inline predicate: rides the scan, no join-back, no extra pass
        df = df.where(gopher_keep(F.col(args.text_col)))
    if args.c4:
        from aws_logs_to_parquet_converter_spark.operators.textstats import (
            c4_clean_lines,
            c4_page_rule_exprs,
        )

        # C4 REWRITES the page (only terminal-punctuation >=5-word
        # lines survive) and gates on the page rules — the predicates
        # come from the SAME expression builder the oracle-graded
        # c4_page_flags uses, so the CLI cannot drift from the graded
        # definition; everything rides the scan inline.
        raw = F.col(args.text_col)
        rules = c4_page_rule_exprs(raw)
        keep = None
        for c in rules.values():
            keep = c if keep is None else keep & c
        df = df.where(keep).withColumn(
            args.text_col, c4_clean_lines(F.coalesce(raw, F.lit("")))
        )
    if args.dedup == "exact":
        df = dedup_ops.exact_keep_first(df, args.id_col, args.text_col)
    elif args.dedup == "fingerprint":
        df = dedup_ops.fingerprint_keep_first(df, args.id_col, args.text_col)
    if args.scrub_pii:
        df = df.withColumn(args.text_col, scrub_pii(F.col(args.text_col)))
    if args.near_dedup_index:
        # history gate: probe the persisted corpus index (O(batch) —
        # the indexed corpus is never re-shingled), AFTER the in-batch
        # dedup so only surviving docs pay the probe, and AFTER the PII
        # scrub so the probed text is the SAME text --near-dedup-update
        # later appends (probing raw text against scrubbed signatures
        # would leak re-delivered PII-dense duplicates past the gate)
        df = dedup_ops.minhash_dedup_against_corpus(
            df, args.id_col, args.text_col, args.near_dedup_index,
            threshold=args.near_dedup_threshold,
        )
    if args.ann_index and not args.ann_build:
        # semantic history gate, the embedding-space sibling of
        # --near-dedup-index: ADC top-1 against the persisted PQ codes
        # (the corpus is m bytes/vector on disk, never raw floats),
        # drop docs whose nearest indexed neighbor clears the
        # threshold.  Probe cost is O(batch x index-codes scan), the
        # "index once, probe daily" shape.
        from aws_logs_to_parquet_converter_spark.operators.similarity import (
            pq_semantic_gate,
        )

        # chunked probe with exclude_self=False (a re-delivered
        # document carrying the SAME id as its indexed copy must match
        # it and be gated); driver state stays bounded however big the
        # export is — see pq_semantic_gate
        df = pq_semantic_gate(
            spark,
            args.ann_index,
            df,
            id_col=args.id_col,
            vec_col=args.embedding_col,
            threshold=args.ann_threshold,
        )
    manifest = write_training_shards(
        df, args.dest, n_shards=args.n_shards, key_col=args.id_col, seed=args.seed
    )
    n_out = sum(m["n_rows"] for m in manifest)
    # output counts come from the manifest (one scan of the written
    # shards); an input df.count() would be a full extra source pass
    # just for a log line
    print(f"{n_out} documents exported across "
          f"{args.n_shards} shards at {args.dest}")
    for m in manifest:
        print(f"shard={m['shard']:04d}: {m['n_rows']} rows")
    if args.near_dedup_index and args.near_dedup_update and n_out > 0:
        # admitted docs enter the index AFTER a successful export, so a
        # failed run never poisons the next one's history gate; reads
        # back the just-written shards (cheap, column-pruned) rather
        # than re-running the whole filter lineage.  A zero-doc export
        # skips the append (nothing to admit, and an all-manifest dir
        # has no parquet footer to read)
        exported = spark.read.parquet(args.dest).select(args.id_col, args.text_col)
        dedup_ops.append_to_minhash_index(
            exported, args.id_col, args.text_col, args.near_dedup_index
        )
        print(f"appended {n_out} documents to {args.near_dedup_index}")
    if args.ann_index and n_out > 0 and (args.ann_build or args.ann_update):
        # same post-export ordering as the MinHash update: the index
        # only ever reflects successfully shipped documents, so a
        # failed run never poisons the next one's gate
        from aws_logs_to_parquet_converter_spark.operators.similarity import (
            save_pq_index,
        )

        exported = spark.read.parquet(args.dest).select(
            args.id_col, args.embedding_col
        )
        save_pq_index(
            exported,
            args.ann_index,
            id_col=args.id_col,
            vec_col=args.embedding_col,
            m=args.ann_m,
            ks=args.ann_ks,
            mode="overwrite" if args.ann_build else "append",
        )
        verb = "built PQ index from" if args.ann_build else "appended"
        print(f"{verb} {n_out} documents at {args.ann_index}")
    return 0


def build_dimension_parser() -> argparse.ArgumentParser:
    """``dimension`` subcommand: apply a CDC change batch to an on-disk
    SCD2 dimension — the batch face of
    ``streaming/dimension.stream_dimension_scd2`` (same merge, same
    versioned commit, same idempotent-replay contract), for deployments
    that land change files daily rather than streaming them."""
    p = argparse.ArgumentParser(prog="compact-s3-access-logs dimension")
    p.add_argument("--dim", required=True, help="dimension root path")
    p.add_argument("--changes", required=True,
                   help="parquet of change rows (keys + tracked + ts)")
    p.add_argument("--keys", required=True,
                   help="comma-separated key column(s)")
    p.add_argument("--tracked", required=True,
                   help="comma-separated tracked attribute column(s)")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--aws-config", default="",
                   help="same credentials file as the ingest command")
    return p


def run_dimension(args: argparse.Namespace) -> int:
    from aws_logs_to_parquet_converter_spark.operators import versioned
    from aws_logs_to_parquet_converter_spark.streaming.dimension import (
        apply_cdc_batch,
    )

    spark = get_spark(app_name="dimension_cdc_apply")
    if args.aws_config:
        apply_s3a_conf(spark, aws_config_to_s3a(args.aws_config))
    changes = spark.read.parquet(args.changes)
    keys = [c for c in args.keys.split(",") if c]
    tracked = [c for c in args.tracked.split(",") if c]
    missing = set(keys + tracked + [args.ts_col]) - set(changes.columns)
    if missing:
        print(f"dimension: changes missing columns {sorted(missing)}",
              file=sys.stderr)
        return 2
    apply_cdc_batch(changes, args.dim, keys, tracked, args.ts_col)
    dim = versioned.read(spark, args.dim)
    n_open = dim.where(F.col("valid_to").isNull()).count()
    print(f"dimension: {dim.count()} history row(s), {n_open} open, at {args.dim}")
    return 0


def main() -> None:
    argv = sys.argv[1:]
    if argv and argv[0] == "maintain":
        sys.exit(run_maintenance(build_maintenance_parser().parse_args(argv[1:])))
    if argv and argv[0] == "corpus":
        sys.exit(run_corpus(build_corpus_parser().parse_args(argv[1:])))
    if argv and argv[0] == "dimension":
        sys.exit(run_dimension(build_dimension_parser().parse_args(argv[1:])))
    sys.exit(run(build_parser().parse_args(argv)))


if __name__ == "__main__":
    main()
