"""CLI entry-point tests: the reference's command surface end-to-end
(analyze, hash-image, init-db) with stub images and backend."""

from __future__ import annotations

import pytest

from pathlib import Path

from receiptanalyzerpipeline_spark.cli import main
from receiptanalyzerpipeline_spark.multimodal.images import STUB_MAGIC


def _img(pixels: list[int]) -> bytes:
    return STUB_MAGIC + bytes(pixels)


def test_hash_image_and_rename(tmp_path: Path, capsys):
    f = tmp_path / "scan_001.png"
    f.write_bytes(_img([10] * 32 + [200] * 32))
    assert main(["hash-image", "--image-file", str(f), "--rename"]) == 0
    out = capsys.readouterr().out
    assert "00000000ffffffff" in out
    assert (tmp_path / "00000000ffffffff.png").exists()
    assert not f.exists()


def test_analyze_writes_curated(spark, tmp_path: Path):
    """`analyze --write` and `watch` write one curated layout: a repeated
    analyze appends nothing, and a later watch into the same work dir adds
    its new receipt where a plain parquet read sees it."""
    imgs = tmp_path / "in"
    imgs.mkdir()
    (imgs / "a.png").write_bytes(_img([10] * 32 + [200] * 32))
    (imgs / "b.png").write_bytes(_img([0, 255] * 32))
    work = tmp_path / "work"
    for _ in range(2):
        rc = main(
            ["analyze", "--image-file", str(imgs), "--work-dir", str(work), "--write"]
        )
        assert rc == 0
    scan = tmp_path / "scan"
    scan.mkdir()
    (scan / "c.png").write_bytes(_img([200] * 32 + [10] * 32))
    assert main(["watch", "--scan-dir", str(scan), "--work-dir", str(work), "--once"]) == 0
    summary = spark.read.parquet(str(work / "receipt_summary"))
    assert summary.count() == 3
    assert summary.select("img_id").distinct().count() == 3
    assert {"img_id", "vendor_name", "total", "currency"} <= set(summary.columns)


def test_init_db(spark, tmp_path: Path):
    work = tmp_path / "db"
    assert main(["init-db", "--work-dir", str(work)]) == 0
    summary = spark.read.parquet(str(work / "receipt_summary"))
    assert summary.count() == 0
    assert "total" in summary.columns


def test_cli_curate_end_to_end(spark, tmp_path):
    """`curate` runs the full pipeline and writes shards + manifest:
    deterministic membership (rerun produces identical shard contents)."""
    import duckdb

    from receiptanalyzerpipeline_spark.cli import main

    ev_path = str(tmp_path / "eval.parquet")
    duckdb.connect().execute(
        "COPY (SELECT * FROM '/root/testdata/sf0.001/documents.parquet' "
        f"WHERE source = 'src0') TO '{ev_path}' (FORMAT PARQUET)"
    )
    out1, out2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    args = [
        "curate",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out1,
        "--eval-set", ev_path,
        "--shards", "4",
    ]
    assert main(args) == 0
    # Rerun into a second directory: identical membership and chunking.
    assert main(args[:4] + [out2] + args[5:]) == 0
    a = sorted(map(str, spark.read.parquet(out1).select("doc_id", "chunk_id").collect()))
    b = sorted(map(str, spark.read.parquet(out2).select("doc_id", "chunk_id").collect()))
    assert a == b and len(a) > 0


def test_cli_curate_non_default_id_col(spark, tmp_path):
    """ADVICE r3 (medium): `curate --id-col X` used to fail with
    AnalysisException because the quality metrics standardize the id to
    'doc_id' while the join used the caller's column name. Rename a copy
    of the documents table and run the pipeline under the new id name."""
    import duckdb

    from receiptanalyzerpipeline_spark.cli import main

    inp = str(tmp_path / "docs_renamed.parquet")
    duckdb.connect().execute(
        "COPY (SELECT doc_id AS record_id, source, lang, text "
        "FROM '/root/testdata/sf0.001/documents.parquet') "
        f"TO '{inp}' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "shards")
    assert main([
        "curate",
        "--input", inp,
        "--output", out,
        "--id-col", "record_id",
        "--shards", "2",
    ]) == 0
    got = spark.read.parquet(out)
    assert "record_id" in got.columns
    assert got.count() > 0


def test_cli_curate_sample_rate_keeps_mix_buckets(spark, tmp_path, sf_dir):
    """`curate --sample-rate r` keeps exactly the unsampled run's ids whose
    md5 bucket under salt "mix" is below r·65536. The bucket is recomputed
    here with hashlib, so a changed salt or bound fails the test."""
    import hashlib

    src = f"{sf_dir}/documents.parquet"
    full, sampled = str(tmp_path / "full"), str(tmp_path / "sampled")
    assert main(["curate", "--input", src, "--output", full, "--shards", "2"]) == 0
    assert main([
        "curate", "--input", src, "--output", sampled, "--shards", "2",
        "--sample-rate", "0.5",
    ]) == 0

    def ids(path):
        return {r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()}

    def mix_bucket(doc_id):
        return int(hashlib.md5(f"mix:{doc_id}".encode()).hexdigest()[:4], 16)

    kept_all, kept = ids(full), ids(sampled)
    assert kept == {i for i in kept_all if mix_bucket(i) < 0.5 * 65536}
    assert kept and kept < kept_all


def test_cli_curate_eval_set_non_default_id_col(spark, tmp_path, sf_dir):
    """`curate --eval-set` decontaminates under any --id-col: the hit
    list is keyed back to the caller's id column, so some documents are
    dropped instead of the anti-join failing on a missing column. Only
    the eval set's text is read, so its own id column may be named
    differently from the corpus's."""
    import duckdb

    src = f"{sf_dir}/documents.parquet"
    inp = str(tmp_path / "renamed.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT doc_id AS record_id, text FROM '{src}' WHERE source <> 'src0') "
        f"TO '{inp}' (FORMAT PARQUET)"
    )
    evals = {}
    for eval_id in ("record_id", "doc_id"):
        evals[eval_id] = str(tmp_path / f"eval_{eval_id}.parquet")
        con.execute(
            f"COPY (SELECT doc_id AS {eval_id}, text FROM '{src}' WHERE source = 'src0') "
            f"TO '{evals[eval_id]}' (FORMAT PARQUET)"
        )
    base = ["curate", "--input", inp, "--id-col", "record_id", "--shards", "2"]
    plain = str(tmp_path / "plain")
    assert main(base + ["--output", plain]) == 0

    def ids(path):
        return {r["record_id"] for r in spark.read.parquet(path).select("record_id").collect()}

    kept = {}
    for eval_id, ev in evals.items():
        decon = str(tmp_path / f"decon_{eval_id}")
        assert main(base + ["--output", decon, "--eval-set", ev]) == 0
        kept[eval_id] = ids(decon)
    assert kept["record_id"] < ids(plain)
    assert kept["doc_id"] == kept["record_id"]


def test_cli_audit_clean_and_dirty(spark, capsys):
    from receiptanalyzerpipeline_spark.cli import main

    # Clean plans exit 0 with no findings.
    assert main(["audit", "--query", "q_j1_multijoin_revenue"]) == 0
    assert "0 finding(s)" in capsys.readouterr().out

    # A query with a (documented) nested-loop hazard exits 1 and names it.
    assert main(["audit", "--query", "q_n2_embedding_topk"]) == 1
    out = capsys.readouterr().out
    assert "broadcast_nested_loop" in out


def test_cli_tokenize_trains_and_encodes(spark, tmp_path):
    """`tokenize` writes the merge table and a bpe_tokens-encoded corpus;
    encoding with the trained merges reproduces each document's words."""
    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower"), (2, "newest newest newest widest")],
        ["doc_id", "text"],
    )
    src = tmp_path / "docs"
    docs.write.parquet(str(src))
    merges_out, enc_out = tmp_path / "merges", tmp_path / "enc"
    rc = main(
        [
            "tokenize",
            "--input", str(src),
            "--merges", "4",
            "--out-merges", str(merges_out),
            "--encode-to", str(enc_out),
        ]
    )
    assert rc == 0
    mt = spark.read.parquet(str(merges_out)).orderBy("step").collect()
    assert [r["step"] for r in mt] == [1, 2, 3, 4]
    assert all(r["pair_count"] > 0 for r in mt)
    enc = spark.read.parquet(str(enc_out)).orderBy("doc_id").collect()
    for r in enc:
        # tokens concatenate back to the original words (markers removed)
        rebuilt = "".join(r["bpe_tokens"]).replace("</w>", " ").strip()
        assert rebuilt == r["text"]
        assert r["n_bpe_tokens"] == len(r["bpe_tokens"])


@pytest.mark.slow
def test_cli_curate_near_dedup_keeps_cluster_best(spark, tmp_path):
    """--near-dedup collapses MinHash near-dup clusters to their longest
    member (q_d10 policy); without the flag both near-twins survive."""
    base = (
        "the quick brown fox jumps over the lazy dog while the curious cat "
        "watches from the tall green fence near the quiet garden path today"
    )
    rows = [
        (1, base),
        (2, base + " with one extra trailing clause appended for length"),
        (3, "an entirely different document about spark query planning and "
            "distributed shuffle exchange strategies for large analytics"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out1 = str(tmp_path / "plain")
    assert main(["curate", "--input", src, "--output", out1]) == 0
    kept1 = {r["doc_id"] for r in spark.read.parquet(out1).select("doc_id").collect()}
    assert kept1 == {1, 2, 3}  # exact dedup alone keeps both near-twins

    out2 = str(tmp_path / "near")
    assert main(["curate", "--input", src, "--output", out2, "--near-dedup"]) == 0
    kept2 = {r["doc_id"] for r in spark.read.parquet(out2).select("doc_id").collect()}
    assert kept2 == {2, 3}  # cluster {1,2} -> longest member (2) survives

    # id column literally named "id" must not collide with the
    # connected-components output schema (id, component).
    src_id = str(tmp_path / "docs_id.parquet")
    spark.createDataFrame(rows, "id long, text string").write.parquet(src_id)
    out3 = str(tmp_path / "near_id")
    assert main(["curate", "--input", src_id, "--output", out3,
                 "--id-col", "id", "--near-dedup"]) == 0
    kept3 = {r["id"] for r in spark.read.parquet(out3).select("id").collect()}
    assert kept3 == {2, 3}


def test_cli_table_lifecycle(spark, tmp_path, capsys):
    """table subcommand: merge/delete/compact/history/changes/vacuum drive
    the snapshot layer end-to-end from the CLI."""
    from receiptanalyzerpipeline_spark.sources import snapshots as snap

    path = str(tmp_path / "tbl")
    snap.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), path
    )
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame([(2, "B!"), (3, "c")], "k long, v string").write.parquet(src)

    assert main(["table", "merge", path, "--source", src, "--keys", "k"]) == 0
    assert "committed version 1" in capsys.readouterr().out
    assert main(["table", "delete", path, "--where", "k = 1"]) == 0
    capsys.readouterr()
    assert main(["table", "compact", path, "--cluster-by", "k", "--target-file-mb", "1"]) == 0
    capsys.readouterr()

    got = {tuple(r) for r in snap.read_snapshot(spark, path).select("k", "v").collect()}
    assert got == {(2, "B!"), (3, "c")}

    assert main(["table", "history", path]) == 0
    hist = capsys.readouterr().out
    assert "merge" in hist and "delete" in hist and "compaction" in hist

    assert main(["table", "changes", path, "--from-version", "0"]) == 0
    feed = capsys.readouterr().out
    assert "delete" in feed and "insert" in feed

    # scan AS OF a pre-delete version still sees the deleted row
    # (before retention expires that version below).
    assert main(["table", "scan", path, "--where", "k = 1", "--version", "1"]) == 0
    assert "| a " in capsys.readouterr().out.replace("|a ", "| a ")

    assert main(["table", "vacuum", path, "--keep-last", "1"]) == 0
    out = capsys.readouterr().out
    assert "expired versions: [0, 1, 2]" in out
    assert snap.versions(path) == [3]

    # Arg validation: merge without --keys is a usage error.
    assert main(["table", "merge", path, "--source", src]) == 2

    # constrain: set, list, enforce, drop from the CLI.
    assert main(["table", "constrain", path, "--set", "k_pos=k > 0"]) == 0
    capsys.readouterr()
    assert main(["table", "constrain", path]) == 0
    assert "k_pos: k > 0" in capsys.readouterr().out
    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame([(-9, "no")], "k long, v string").write.parquet(bad)
    import pytest as _pytest

    from receiptanalyzerpipeline_spark.sources.snapshots import ConstraintViolation
    with _pytest.raises(ConstraintViolation):
        main(["table", "merge", path, "--source", bad, "--keys", "k"])
    assert main(["table", "constrain", path, "--drop-all"]) == 0
    capsys.readouterr()

    # scan: predicate-driven zone-map pruning from the CLI.
    assert main(["table", "scan", path, "--where", "k = 2"]) == 0
    out = capsys.readouterr().out
    assert "after zone-map pruning" in out and "B!" in out
    assert main(["table", "scan", path]) == 2


def test_curate_stream_once_flag_is_togglable():
    """ADVICE r5 (low): --once defaulted True via store_true, so
    continuous mode was unreachable; --no-once must parse to False."""
    from receiptanalyzerpipeline_spark.cli import build_parser

    p = build_parser()
    base = [
        "curate-stream", "--input", "i", "--output", "o",
        "--snapshot", "s", "--checkpoint", "c",
    ]
    assert p.parse_args(base).once is True
    assert p.parse_args(base + ["--no-once"]).once is False
    assert p.parse_args(base + ["--once"]).once is True
