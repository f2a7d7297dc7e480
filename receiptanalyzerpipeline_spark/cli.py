"""CLI — entry-point parity with the reference's typer app (anarcpt/main.py).

    anarcpt analyze img.png      → python -m receiptanalyzerpipeline_spark analyze --image-file img.png
    anarcpt analyze --s3-document k --s3-bucket b
                                 → ... analyze --path s3a://b/k
    anarcpt watch scan/ hashed/  → ... watch --scan-dir scan/ --work-dir out/
    anarcpt hash-image img.png   → ... hash-image --image-file img.png [--rename]
    anarcpt db init              → ... init-db --work-dir out/

Differences by design (SURVEY §7.4): analyze returns BOTH summary and line
items (the reference's S3 branch crashes unpacking a single value); no
rename-based dedup — the hash is a column (``img_id``); the sink is a
parquet table keyed on it, not SQLite.
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime, timezone
from pathlib import Path


def _spark():
    from receiptanalyzerpipeline_spark.session import get_spark

    spark = get_spark(app_name="anarcpt-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _backend(name: str, rate_per_sec: float | None = None):
    if name == "textract":  # pragma: no cover - needs AWS
        from receiptanalyzerpipeline_spark.multimodal.ocr import (
            RateLimitedBackend,
            TextractBackend,
        )

        b = TextractBackend()
        # --ocr-rate is PER concurrent OCR task (see RateLimitedBackend);
        # Textract AnalyzeExpense's default quota is single-digit TPS, so
        # an unlimited fan-out is how the reference pipeline falls over.
        return RateLimitedBackend(b, rate_per_sec) if rate_per_sec else b
    from receiptanalyzerpipeline_spark.multimodal.ocr import StubBackend

    return StubBackend()


def cmd_analyze(args: argparse.Namespace) -> int:
    """One-shot batch: images → ahash → OCR → curated tables (SURVEY §3.1)."""
    from receiptanalyzerpipeline_spark.multimodal.images import read_images
    from receiptanalyzerpipeline_spark.multimodal.ocr import hashed_images, ocr_documents
    from receiptanalyzerpipeline_spark.sources.textract import (
        extract_line_items,
        flatten_summary_fields,
        pivot_receipt_summary,
    )
    from receiptanalyzerpipeline_spark.streaming.ingest import curated_keys, merge_curated

    spark = _spark()
    path = args.image_file or args.path
    images = read_images(spark, path, glob=args.glob)
    work = Path(args.work_dir)
    curated = str(work / "receipt_summary"), str(work / "receipt_line_item")
    backend = _backend(args.backend, args.ocr_rate)
    # One hash, OCR and parse pass shared by both show()s and both writes;
    # the curated tables are probed before the OCR write, as in `watch`.
    with hashed_images(images) as (hashed, hashes):
        held = curated_keys(spark, *curated, hashes) if args.write else None
        with ocr_documents(hashed, hashes, str(work / "raw_zone"), backend) as docs:
            summary = pivot_receipt_summary(flatten_summary_fields(docs))
            items = extract_line_items(docs)
            summary.show(truncate=False)
            items.show(truncate=False)
            if held is not None:
                merge_curated(summary, items, held, *curated)
    return 0


def cmd_watch(args: argparse.Namespace) -> int:
    """Streaming ingest (SURVEY §3.2); --once drains the backlog and exits,
    otherwise receipts are curated as they land until the process stops."""
    from receiptanalyzerpipeline_spark.streaming.ingest import run_ingest

    work = Path(args.work_dir)
    spark = _spark()
    if args.metrics:
        from receiptanalyzerpipeline_spark.streaming.observability import (
            attach_progress_logger,
        )

        attach_progress_logger(spark, args.metrics)
    q = run_ingest(
        spark,
        args.scan_dir,
        str(work / "checkpoint"),
        str(work / "raw_zone"),
        str(work / "receipt_summary"),
        str(work / "receipt_line_item"),
        _backend(args.backend, args.ocr_rate),
        available_now=args.once,
    )
    q.awaitTermination()
    return 0


def cmd_hash_image(args: argparse.Namespace) -> int:
    """Print (and optionally rename to) the perceptual hash — parity with
    `anarcpt hash-image` (anarcpt/main.py:20-38)."""
    from receiptanalyzerpipeline_spark.multimodal.images import _ahash_hex

    p = Path(args.image_file)
    h = _ahash_hex(p.read_bytes())
    print(f"{p.name}: {h}")
    if args.rename:
        target = p.with_name(f"{h}{p.suffix}")
        p.rename(target)
        print(f"renamed -> {target.name}")
    return 0


def cmd_init_db(args: argparse.Namespace) -> int:
    """Create the curated-table layout with explicit schemas (K2 parity with
    `anarcpt db init`, anarcpt/main.py:135-141)."""
    spark = _spark()
    work = Path(args.work_dir)
    summary_schema = (
        "img_id string, vendor_name string, receiver_address string, "
        "receipt_date timestamp, total decimal(18,2), sub_total decimal(18,2), "
        "tax_amount decimal(18,2), currency string, other_data map<string,string>"
    )
    items_schema = "img_id string, line_no int, item_name string, price decimal(18,2), quantity int"
    spark.createDataFrame([], summary_schema).write.mode("ignore").parquet(
        str(work / "receipt_summary")
    )
    spark.createDataFrame([], items_schema).write.mode("ignore").parquet(
        str(work / "receipt_line_item")
    )
    print(f"initialized {work}")
    return 0


def cmd_oracle(args: argparse.Namespace) -> int:
    """Run the DuckDB-oracle correctness sweep (the driver's gate, locally)."""
    from receiptanalyzerpipeline_spark.oracle import run_all

    results = run_all(_spark(), args.sf_dir)
    ok = True
    for r in results:
        print(r)
        ok &= r.ok
    return 0 if ok else 1


def cmd_audit(args: argparse.Namespace) -> int:
    """Preflight the registry's physical plans for scale hazards
    (plans/audit.py): cartesian products, row-at-a-time Python, windows
    with no PARTITION BY, global sorts feeding computation, nested-loop
    joins. Exit 1 if anything fires so CI can gate on it."""
    from receiptanalyzerpipeline_spark.plans.audit import audit_registry

    names = args.query or None
    findings = audit_registry(_spark(), args.sf_dir, names=names)
    for f in findings:
        print(f)
    print(f"{len(findings)} finding(s)")
    return 1 if findings else 0


def cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc SQL over the sf tables (+ curated receipt tables if a work
    dir is given), with the scale-hazard plan audit as a per-statement
    preflight (sqlfront.EngineSession)."""
    from receiptanalyzerpipeline_spark.sqlfront import EngineSession, SqlHazardError

    engine = EngineSession(
        _spark(),
        sf_dir=args.sf_dir,
        work_dir=args.work_dir,
        on_hazard=args.on_hazard,
    )
    try:
        df = engine.sql(args.execute)
    except SqlHazardError as ex:
        print(f"REJECTED: {ex}", file=sys.stderr)
        return 1
    if args.format == "json":
        for row in df.limit(args.max_rows).toJSON().collect():
            print(row)
    else:
        df.show(n=args.max_rows, truncate=False)
    return 0


def cmd_table(args: argparse.Namespace) -> int:
    """Snapshot-table maintenance (sources/snapshots.py): DESCRIBE
    HISTORY, MERGE INTO, DELETE FROM, OPTIMIZE [ZORDER], VACUUM, and the
    row-level change feed — the Delta/Iceberg maintenance verbs over the
    manifest-based table layer."""
    from receiptanalyzerpipeline_spark.sources import snapshots as snap

    spark = _spark()
    p, op = args.table_path, args.table_op
    if op == "history":
        rows = []
        for v in snap.versions(p):
            m = snap._read_manifest(p, v)
            ts = m.get("committed_at")
            rows.append(
                (
                    v,
                    m.get("mode", ""),
                    snap.manifest_file_count(m),
                    m.get("rewrote_files"),
                    m.get("carried_files"),
                    "compaction" if "compaction_of" in m else "",
                    m.get("batch_id"),
                    ",".join(m.get("cluster_by") or []),
                    datetime.fromtimestamp(ts, tz=timezone.utc).isoformat(
                        timespec="seconds"
                    )
                    if ts
                    else "",
                )
            )
        spark.createDataFrame(
            rows,
            "version long, mode string, n_files long, rewrote_files long, "
            "carried_files long, note string, batch_id long, cluster_by string, "
            "committed_at string",
        ).orderBy("version").show(n=1000, truncate=False)
        return 0
    if op == "merge":
        if not (args.source and args.keys):
            print("merge needs --source and --keys", file=sys.stderr)
            return 2
        src = spark.read.parquet(args.source)
        v = snap.merge_upsert(spark, src, p, args.keys.split(","))
        m = snap._read_manifest(p, v)
        print(
            f"committed version {v}: rewrote {m['rewrote_files']} file(s), "
            f"carried {m['carried_files']}"
        )
        return 0
    if op == "delete":
        if not args.where:
            print("delete needs --where", file=sys.stderr)
            return 2
        v = snap.delete_where(spark, p, args.where)
        m = snap._read_manifest(p, v)
        print(
            f"committed version {v}: rewrote {m.get('rewrote_files', 0)} file(s), "
            f"carried {m.get('carried_files', len(m['files']))}"
        )
        return 0
    if op == "compact":
        cluster = args.cluster_by.split(",") if args.cluster_by else None
        v = snap.compact_snapshot(
            spark, p, target_file_bytes=args.target_file_mb << 20, cluster_by=cluster
        )
        n = snap.manifest_file_count(snap._read_manifest(p, v))
        print(f"committed version {v}: {n} file(s)" + (f", clustered on {cluster}" if cluster else ""))
        return 0
    if op == "vacuum":
        expired = snap.expire_snapshots(
            p, keep_last=args.keep_last, keep_from_version=args.keep_from
        )
        print(f"expired versions: {expired or 'none'}")
        return 0
    if op == "constrain":
        if args.set:
            cons = {}
            for spec in args.set:
                name, _, expr = spec.partition("=")
                if not expr:
                    print(f"bad --set {spec!r}; want name=<sql expr>", file=sys.stderr)
                    return 2
                cons[name.strip()] = expr.strip()
            v = snap.set_constraints(p, cons)
            print(f"committed version {v}: constraints {sorted(cons)}")
        elif args.drop_all:
            v = snap.set_constraints(p, {})
            print(f"committed version {v}: constraints dropped")
        else:
            cur = snap._read_manifest(p, snap.current_version(p)).get("constraints", {})
            for name, expr in sorted(cur.items()):
                print(f"{name}: {expr}")
            print(f"{len(cur)} constraint(s)")
        return 0
    if op == "scan":
        if not args.where:
            print("scan needs --where", file=sys.stderr)
            return 2
        at = args.version if args.version is not None else snap.current_version(p)
        df = snap.scan_snapshot(spark, p, args.where, version=args.version)
        n_live = snap.manifest_file_count(snap._read_manifest(p, at))
        print(f"# scanning {len(df.inputFiles())}/{n_live} file(s) after zone-map pruning")
        df.show(n=args.max_rows, truncate=False)
        return 0
    # op == "changes"
    snap.read_row_changes(spark, p, args.from_version).show(
        n=args.max_rows, truncate=False
    )
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """End-to-end training-data curation (the q_x24 pipeline, user-facing):
    quality rules -> exact-content dedup -> optional near-dup collapse ->
    optional eval-set 5-gram decontamination -> optional deterministic
    sample -> sharded export with a write-audit manifest."""
    from receiptanalyzerpipeline_spark.operators import curation as C
    from receiptanalyzerpipeline_spark.operators import dedup as D
    from receiptanalyzerpipeline_spark.operators.sampling import hash_sample
    from receiptanalyzerpipeline_spark.sources.sinks import write_training_shards

    spark = _spark()
    docs = spark.read.parquet(args.input)
    kept = D.exact_dedup(
        C.quality_filter(docs, args.id_col, args.text_col), args.text_col, args.id_col
    )
    if args.near_dedup:
        kept = (
            D.keep_best_canonical(kept, args.id_col, args.text_col)
            .where("_nd_canonical")
            .drop("_nd_cluster", "_nd_tokens", "_nd_canonical")
        )
    if args.eval_set:
        ev = spark.read.parquet(args.eval_set)
        kept = C.decontaminate(kept, ev, args.id_col, args.text_col, k=5)
    if args.sample_rate < 1.0:
        kept = hash_sample(kept, args.id_col, args.sample_rate, salt="mix")
    manifest = write_training_shards(
        kept,
        args.output,
        id_col=args.id_col,
        text_col=args.text_col,
        n_shards=args.shards,
        mode="overwrite",
    )
    manifest.show(truncate=False)
    return 0


def cmd_curate_stream(args: argparse.Namespace) -> int:
    """Streaming twin of `curate`: drain a landing directory of document
    parquet files through quality -> snapshot-backed stateful dedup ->
    exactly-once shard export (streaming/curation_stream.py). Shard
    membership is identical to the batch `curate` CLI on the same corpus."""
    from receiptanalyzerpipeline_spark.streaming.curation_stream import (
        run_streaming_curation,
    )

    spark = _spark()
    if args.metrics:
        from receiptanalyzerpipeline_spark.streaming.observability import (
            attach_progress_logger,
        )

        attach_progress_logger(spark, args.metrics)
    schema = spark.read.parquet(args.input).schema
    q = run_streaming_curation(
        spark,
        args.input,
        snapshot_path=args.snapshot,
        shards_path=args.output,
        checkpoint=args.checkpoint,
        schema=schema,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=args.once,
        id_col=args.id_col,
        text_col=args.text_col,
        n_shards=args.shards,
        near_dedup=args.near_dedup,
        bucket_fps=args.bucket_fps,
    )
    q.awaitTermination()
    return 0


def cmd_tokenize(args: argparse.Namespace) -> int:
    """Train a BPE merge table on a corpus (q_x31's operator, user-facing)
    and optionally encode the corpus with it: --out-merges writes the
    merge table as parquet (step, merged, pair_count); --encode-to writes
    the corpus with a bpe_tokens array column. Encoding is zero-shuffle
    (chained literal replaces in one projection)."""
    from pyspark.sql import functions as F

    from receiptanalyzerpipeline_spark.operators.bpe import (
        bpe_encode,
        bpe_fit,
        merge_table,
    )

    spark = _spark()
    docs = spark.read.parquet(args.input)
    pairs = bpe_fit(docs, text_col=args.text_col, n_merges=args.merges)
    merge_df = merge_table(docs, args.text_col, pairs)
    merge_df.show(truncate=False)
    if args.out_merges:
        merge_df.write.mode("overwrite").parquet(args.out_merges)
    if args.encode_to:
        enc = bpe_encode(docs, pairs, text_col=args.text_col)
        enc.withColumn("n_bpe_tokens", F.size("bpe_tokens")).write.mode(
            "overwrite"
        ).parquet(args.encode_to)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="anarcpt-spark")
    sub = p.add_subparsers(dest="command", required=True)

    a = sub.add_parser("analyze", help="one-shot receipt analysis (local path or s3a://)")
    g = a.add_mutually_exclusive_group(required=True)
    g.add_argument("--image-file", help="local image file or directory")
    g.add_argument("--path", help="any Hadoop-visible path (s3a://bucket/key, hdfs://...)")
    a.add_argument("--work-dir", default="./anarcpt_spark_data")
    a.add_argument("--glob", default="*.{png,jpg,jpeg}")
    a.add_argument("--backend", choices=["stub", "textract"], default="stub")
    a.add_argument("--ocr-rate", type=float, default=None,
                   help="per-task OCR calls/sec (token bucket + throttle retry)")
    a.add_argument("--write", action="store_true", help="persist curated tables")
    a.set_defaults(fn=cmd_analyze)

    w = sub.add_parser("watch", help="streaming ingest of a landing directory")
    w.add_argument("--scan-dir", required=True)
    w.add_argument("--work-dir", default="./anarcpt_spark_data")
    w.add_argument("--backend", choices=["stub", "textract"], default="stub")
    w.add_argument("--ocr-rate", type=float, default=None,
                   help="per-task OCR calls/sec (token bucket + throttle retry)")
    w.add_argument("--once", action="store_true", help="availableNow: drain backlog and exit")
    w.add_argument("--metrics", default=None,
                   help="append per-batch progress JSONL here (observability)")
    w.set_defaults(fn=cmd_watch)

    h = sub.add_parser("hash-image", help="print the image's perceptual hash")
    h.add_argument("--image-file", required=True)
    h.add_argument("--rename", action="store_true")
    h.set_defaults(fn=cmd_hash_image)

    i = sub.add_parser("init-db", help="create curated tables with explicit schemas")
    i.add_argument("--work-dir", default="./anarcpt_spark_data")
    i.set_defaults(fn=cmd_init_db)

    o = sub.add_parser("oracle", help="run the DuckDB correctness sweep")
    o.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    o.set_defaults(fn=cmd_oracle)

    q = sub.add_parser("sql", help="ad-hoc SQL with plan-audit preflight")
    q.add_argument("-e", "--execute", required=True, help="SQL statement")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--work-dir", default=None, help="register curated tables from here")
    q.add_argument("--on-hazard", choices=["warn", "error", "ignore"], default="warn")
    q.add_argument("--max-rows", type=int, default=100)
    q.add_argument("--format", choices=["show", "json"], default="show")
    q.set_defaults(fn=cmd_sql)

    pa = sub.add_parser("audit", help="physical-plan scale-hazard preflight")
    pa.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pa.add_argument("--query", action="append", help="limit to specific queries (repeatable)")
    pa.set_defaults(fn=cmd_audit)

    tb = sub.add_parser(
        "table",
        help="snapshot table maintenance: history | merge | delete | compact | vacuum | changes",
    )
    tb.add_argument(
        "table_op",
        choices=[
            "history", "merge", "delete", "compact",
            "vacuum", "changes", "scan", "constrain",
        ],
    )
    tb.add_argument("table_path", help="snapshot table directory")
    tb.add_argument("--source", help="merge: parquet path of the upsert source")
    tb.add_argument("--keys", help="merge: comma-separated key columns")
    tb.add_argument("--where", help="delete/scan: SQL boolean predicate")
    tb.add_argument("--cluster-by", help="compact: comma-separated Z-order columns")
    tb.add_argument("--target-file-mb", type=int, default=128, help="compact: target file size")
    tb.add_argument("--keep-last", type=int, default=2, help="vacuum: versions to keep")
    tb.add_argument("--keep-from", type=int, default=None,
                    help="vacuum: never expire versions >= this (consumer watermark)")
    tb.add_argument("--version", type=int, default=None,
                    help="scan: read AS OF this version (default latest)")
    tb.add_argument("--from-version", type=int, default=0, help="changes: starting version")
    tb.add_argument("--max-rows", type=int, default=100)
    tb.add_argument("--set", action="append",
                    help="constrain: name=<sql expr> (repeatable; replaces the set)")
    tb.add_argument("--drop-all", action="store_true",
                    help="constrain: drop all constraints")
    tb.set_defaults(fn=cmd_table)

    c = sub.add_parser("curate", help="end-to-end corpus curation -> training shards")
    c.add_argument("--input", required=True, help="documents parquet path")
    c.add_argument("--output", required=True, help="shard output directory")
    c.add_argument("--eval-set", help="eval documents parquet for 5-gram decontamination")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--shards", type=int, default=16)
    c.add_argument("--sample-rate", type=float, default=1.0)
    c.add_argument("--near-dedup", action="store_true",
                   help="also collapse MinHash-LSH near-dup clusters, keeping each cluster's longest doc (q_d10 policy)")
    c.set_defaults(fn=cmd_curate)

    cs = sub.add_parser("curate-stream", help="streaming curation: landing dir -> shards (exactly-once)")
    cs.add_argument("--input", required=True, help="landing directory of document parquet files")
    cs.add_argument("--output", required=True, help="shard output directory")
    cs.add_argument("--snapshot", required=True, help="snapshot table path (dedup state)")
    cs.add_argument("--checkpoint", required=True)
    cs.add_argument("--id-col", default="doc_id")
    cs.add_argument("--text-col", default="text")
    cs.add_argument("--shards", type=int, default=16)
    cs.add_argument("--max-files-per-trigger", type=int, default=1)
    cs.add_argument("--metrics", default=None,
                    help="append per-batch progress JSONL here (observability)")
    cs.add_argument("--once", action=argparse.BooleanOptionalAction, default=True,
                    help="availableNow: drain the backlog and exit (default; "
                         "--no-once runs the stream continuously)")
    cs.add_argument("--near-dedup", action="store_true",
                    help="also drop MinHash-LSH near-dups: in-batch keep-first, "
                         "vs-corpus via persisted text-free LSH state")
    cs.add_argument("--bucket-fps", type=int, default=None, metavar="N",
                    help="bucketed state layout: cluster dedup state by "
                         "hash(fp) mod N so each batch's anti-join reads "
                         "only the state files its own buckets touch")
    cs.set_defaults(fn=cmd_curate_stream)

    t = sub.add_parser("tokenize", help="train a BPE merge table; optionally encode the corpus")
    t.add_argument("--input", required=True, help="documents parquet path")
    t.add_argument("--text-col", default="text")
    t.add_argument("--merges", type=int, default=8)
    t.add_argument("--out-merges", help="write the merge table parquet here")
    t.add_argument("--encode-to", help="write the corpus + bpe_tokens column here")
    t.set_defaults(fn=cmd_tokenize)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
