"""The benchmark's workloads, each driving the program only through its
public entry points:

- ``receipt_ingest``: ``streaming.ingest.run_ingest(..., available_now=True)``,
  the ``anarcpt-spark watch --once`` path;
- ``query_mix``: ``REGISTRY[q].spark(spark, sf_dir)`` then ``.toArrow()``.

A third workload, ``curate_corpus`` (``cli.main(["curate", ...])``), did not
fit the run budget; its operators are split per layer in query_mix's
traced run instead (README.md, "Workloads").

A workload object generates its inputs (``prepare``), runs op ``i``
(``op``, the only code inside the timer), checks the outputs (``check``,
``final_check``) and, in a traced run, splits one op across layers by
calling the same public functions from outside (``decompose``).
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil

import receipts
import tables

QUERIES = (
    "q_a3_tpch_q1",
    "q_j2_reconciliation",
    "q_t3_sessionization",
    "q_x24_curation_pipeline",
    "q_x28_bm25_retrieval",
    "q_er1_fuzzy_match",
    "q_er2_qgram_edit_join",
)


def noop(df) -> None:
    """Execute ``df`` completely and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def took(span: dict) -> float:
    return span["end"] - span["start"]


class ReceiptIngest:
    """Each op lands ``BATCH`` receipt images by atomic rename, then drains
    the landing directory with ``run_ingest(available_now=True)``."""

    name = "receipt_ingest"
    BATCH = 50
    # Untimed ops after the cold op; README.md ("Warm-up") has the per-op
    # JIT and latency series that chose it.
    WARMUP = 2
    MIN_TIMED = 3  # a median that one slow op cannot move
    CYCLE = 1  # timed ops end on a multiple of this
    MAX_OPS = 80

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.land, self.stage = f"{work}/landing", f"{work}/staging"
        self.zone = {k: f"{work}/{k}" for k in ("checkpoint", "raw_zone", "summary", "items")}
        self.landed: list[receipts.Receipt] = []
        self.raw_rows = 0  # raw-zone rows after the last checked op
        self.backend_calls: dict[int, int] = {}  # raw-zone rows appended, per op
        self.new_hashes: list[int] = []  # distinct hashes not landed before, per op
        self.new_ok: list[int] = []  # of those, the ones OCR does not reject
        self.hits: list[tuple[int, int]] = []  # (cache hits, distinct hashes) per op
        self.trace_op: int | None = None

    def prepare(self) -> None:
        os.makedirs(self.land)
        os.makedirs(self.stage)
        self.batches = receipts.plan_batches(self.seed, self.BATCH, self.MAX_OPS)

    def start(self, spark) -> None:
        from receiptanalyzerpipeline_spark.streaming.ingest import run_ingest

        self.spark, self.run_ingest = spark, run_ingest

    def kind(self, i: int) -> str:
        return self.name

    def before(self, i: int, snapshot: bool) -> None:
        """Stage op ``i``'s files (written, not yet visible to the watcher)."""
        batch = self.batches[i]
        known = {rc.ahash for rc in self.landed}
        new = [rc for rc in batch if rc.ahash not in known]
        self.new_hashes.append(len(new))
        self.new_ok.append(sum(not rc.fails for rc in new))
        self.hits.append((len(batch) - len(new), len(batch)))
        self.landed.extend(batch)
        for j, rc in enumerate(batch):
            with open(f"{self.stage}/op{i:03d}_{j:03d}.png", "wb") as f:
                f.write(rc.content)
        if snapshot and self.trace_op is None:
            self.trace_op = i
            shutil.copytree(self.stage, f"{self.work}/trace_batch")
            if os.path.isdir(self.zone["raw_zone"]):
                shutil.copytree(self.zone["raw_zone"], f"{self.work}/trace_raw")

    def op(self, i: int) -> int:
        for name in sorted(os.listdir(self.stage)):
            os.rename(f"{self.stage}/{name}", f"{self.land}/{name}")
        z = self.zone
        self.run_ingest(self.spark, self.land, z["checkpoint"], z["raw_zone"], z["summary"],
                        z["items"], receipts.DerivedBackend(), available_now=True)
        return self.new_ok[i]

    def check(self, i: int) -> list[str]:
        import pyarrow.parquet as pq

        raw = pq.read_table(self.zone["raw_zone"], columns=["ahash", "ocr_error"]).to_pylist()
        summary = pq.read_table(self.zone["summary"]).to_pylist()
        items: dict[str, int] = {}
        for row in pq.read_table(self.zone["items"], columns=["img_id"]).to_pylist():
            items[row["img_id"]] = items.get(row["img_id"], 0) + 1
        errors = {r["ahash"] for r in raw if r["ocr_error"] is not None}
        problems = [f"wrong curated output for {h}" for h in
                    receipts.check_curated(self.landed, summary, items, errors)]
        calls = self.backend_calls[i] = len(raw) - self.raw_rows
        self.raw_rows = len(raw)
        if calls != self.new_hashes[i]:
            problems.append(f"{calls} OCR backend calls for {self.new_hashes[i]} new hashes")
        return problems

    def final_check(self) -> dict[str, list[str]]:
        return {}  # every op was checked as it ran

    def decompose(self, spark, tracer) -> dict[str, float]:
        """Split the traced op across layers, on copies of its inputs."""
        from receiptanalyzerpipeline_spark.multimodal.images import read_images, with_ahash
        from receiptanalyzerpipeline_spark.multimodal.ocr import ocr_with_cache, parse_ocr_documents
        from receiptanalyzerpipeline_spark.sources.textract import (
            extract_line_items,
            flatten_summary_fields,
            pivot_receipt_summary,
        )

        batch, raw = f"{self.work}/trace_batch", f"{self.work}/trace_raw"
        op = self.trace_op
        with tracer.span("decompose.ingest", op):
            with tracer.span("multimodal.images.read", op) as read:
                noop(read_images(spark, batch))
            hashed = with_ahash(read_images(spark, batch))
            with tracer.span("multimodal.images.read+ahash", op) as both:
                noop(hashed)
            with tracer.span("multimodal.ocr.ocr_with_cache", op) as ocr_span:
                ocr = ocr_with_cache(spark, hashed, raw, receipts.DerivedBackend())
            docs = parse_ocr_documents(ocr)
            with tracer.span("sources.textract.parse", op) as parse:
                noop(pivot_receipt_summary(flatten_summary_fields(docs)))
                noop(extract_line_items(docs))
        return {
            "multimodal.images.read_s": took(read),
            "multimodal.images.ahash_s": took(both) - took(read),
            "multimodal.ocr.ocr_with_cache_s": took(ocr_span),
            "sources.textract.parse_s": took(parse),
        }


CURATE_RULES = (  # the quality rules cmd_curate applies
    "n_tokens BETWEEN 5 AND 10000 AND mean_tok_len BETWEEN 2 AND 12 "
    "AND alpha_frac >= 0.7 AND symbol_frac <= 0.1"
)


def curate_layers(spark, tracer, docs, eval_docs, out_dir: str) -> dict[str, float]:
    """The calls ``anarcpt-spark curate --near-dedup --eval-set`` makes
    (cli.cmd_curate), in its order, each forced by a noop write; the shard
    write is timed as a call."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from receiptanalyzerpipeline_spark.operators.components import connected_components
    from receiptanalyzerpipeline_spark.operators.curation import contaminated_ids, heuristic_quality
    from receiptanalyzerpipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_lsh_jaccard_pairs,
        minhash_signatures,
    )
    from receiptanalyzerpipeline_spark.operators.textanalysis import token_count_ws
    from receiptanalyzerpipeline_spark.sources.sinks import write_training_shards

    out: dict[str, float] = {}

    def timed(metric: str, fn):
        with tracer.span(metric[:-2]) as span:
            result = fn()
        out[metric] = took(span)
        return result

    with tracer.span("decompose.curate"):
        metrics = heuristic_quality(docs, "doc_id", "text")
        timed("operators.curation.heuristic_quality_s", lambda: noop(metrics))
        quality = docs.join(metrics.where(F.expr(CURATE_RULES)).select("doc_id"), "doc_id")
        fp = F.md5(F.lower(F.trim(F.col("text"))))
        dedup = (
            quality.withColumn("rn", F.row_number().over(Window.partitionBy(fp).orderBy("doc_id")))
            .where(F.col("rn") == 1).drop("rn")
        )
        pairs = minhash_lsh_jaccard_pairs(dedup, "doc_id", "text", k=3, threshold=0.5,
                                          n_hashes=32, rows_per_band=2)
        timed("operators.dedup.minhash_lsh_s", lambda: noop(pairs))
        labels = connected_components(pairs.select("id_a", "id_b")).select(
            F.col("id").alias("__nd_id"), F.col("component").alias("__nd_comp"))
        timed("operators.components.connected_components_s", lambda: noop(labels))
        labeled = dedup.join(labels, dedup["doc_id"] == labels["__nd_id"], "left").withColumn(
            "__cluster", F.coalesce(F.col("__nd_comp"), F.col("doc_id"))
        ).drop("__nd_id", "__nd_comp")
        w = Window.partitionBy("__cluster").orderBy(F.desc(token_count_ws(F.col("text"))), "doc_id")
        kept = labeled.withColumn("__rn", F.row_number().over(w)).where(
            F.col("__rn") == 1).drop("__rn", "__cluster")
        hits = contaminated_ids(kept, eval_docs, "doc_id", "text", k=5)
        timed("operators.curation.contaminated_ids_s", lambda: noop(hits))
        final = kept.join(hits, "doc_id", "left_anti")
        manifest = timed("sources.sinks.write_training_shards_s", lambda: write_training_shards(
            final, out_dir, n_shards=16, mode="overwrite"))
    # Counted after the timed spans: each count re-executes its stage.
    n_cand = minhash_lsh_candidates(minhash_signatures(dedup, "doc_id", "text", 3, 32), 32, 2).count()
    n_pairs = pairs.count()
    n_written = sum(r["n_docs"] for r in manifest.collect())
    out.update({
        "operators.dedup.lsh_candidates": float(n_cand),
        "operators.dedup.lsh_pairs": float(n_pairs),
        "operators.dedup.lsh_precision": n_pairs / n_cand if n_cand else 0.0,
        "operators.curation.kept_ratio": n_written / docs.count(),
    })
    return out


class QueryMix:
    """The cold op is always ``COLD``; then ops cycle through ``QUERIES`` in
    a seed-shuffled order, each a fresh plan collected with ``toArrow()``.
    The tables are the same in every run."""

    name = "query_mix"
    COLD = "q_a3_tpch_q1"
    CYCLE = len(QUERIES)  # whole passes: every query has as many timed samples as the others
    WARMUP = CYCLE  # the first pass carries each query's JIT and codegen
    MIN_TIMED = 2 * CYCLE  # two timed samples of every query
    MAX_OPS = 10**6

    def __init__(self, seed: int, work: str):
        self.work, self.sf = work, f"{work}/tables"
        order = list(QUERIES)
        random.Random(f"{seed}/order").shuffle(order)
        self.order = order
        self.results: dict[str, object] = {}

    def prepare(self) -> None:
        os.makedirs(self.sf)
        tables.write_tables(self.sf)

    def start(self, spark) -> None:
        from receiptanalyzerpipeline_spark.plans import REGISTRY

        self.spark, self.registry = spark, REGISTRY

    def kind(self, i: int) -> str:
        return self.COLD if i == 0 else self.order[(i - 1) % self.CYCLE]

    def before(self, i: int, snapshot: bool) -> None:
        pass

    def op(self, i: int) -> int:
        tbl = self.registry[self.kind(i)].spark(self.spark, self.sf).toArrow()
        self.results.setdefault(self.kind(i), tbl)
        return 1

    def check(self, i: int) -> list[str]:
        return []  # every query is checked once, against DuckDB, in final_check

    def final_check(self) -> dict[str, list[str]]:
        """Each query's first result against its DuckDB oracle, compared as
        the repository's oracle gate compares (oracle.canon_frame)."""
        import duckdb

        from receiptanalyzerpipeline_spark.oracle import canon_frame

        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
            bad: dict[str, list[str]] = {}
            for q, tbl in self.results.items():
                sp = canon_frame(tbl.to_pandas())
                orc = canon_frame(con.execute(self.registry[q].oracle).df())
                if sp != orc:
                    bad[q] = [f"{q} differs from its DuckDB oracle "
                              f"({len(sp[1])} rows vs {len(orc[1])}; columns {sp[0]} vs {orc[0]})"]
            return bad
        finally:
            con.close()

    def decompose(self, spark, tracer) -> dict[str, float]:
        """Per query: build, explain (analysis, optimization, planning),
        noop execution, and collect = toArrow() of a second fresh build
        minus that build and the noop time. Then the curate pipeline's
        operators over the same ``documents`` table (source src0 as the
        eval set, as q_x24 splits it)."""
        out: dict[str, float] = {}
        for q in QUERIES:
            fn = self.registry[q].spark
            with tracer.span("decompose.query"):
                with tracer.span(f"plans.build.{q}") as build:
                    df = fn(spark, self.sf)
                with tracer.span(f"plans.optimize.{q}") as opt, \
                        contextlib.redirect_stdout(io.StringIO()):
                    df.explain()
                with tracer.span(f"operators.execute.{q}") as ex:
                    noop(df)
                with tracer.span(f"session.build.{q}"):
                    df2 = fn(spark, self.sf)
                with tracer.span(f"session.collect.{q}") as coll:
                    df2.toArrow()
            out[f"plans.build_s.{q}"] = took(build)
            out[f"plans.optimize_s.{q}"] = took(opt)
            out[f"operators.execute_s.{q}"] = took(ex)
            out[f"session.collect_s.{q}"] = took(coll) - took(ex)
        docs = spark.read.parquet(f"{self.sf}/documents.parquet").select("doc_id", "text", "source")
        out.update(curate_layers(
            spark, tracer, docs.where("source <> 'src0'").drop("source"),
            docs.where("source = 'src0'").drop("source"), f"{self.work}/trace_shards"))
        return out


WORKLOADS = {w.name: w for w in (ReceiptIngest, QueryMix)}
