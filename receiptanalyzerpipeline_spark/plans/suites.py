"""Driver-facing suite queries: the 88-entry registry folded into ≤50 entries.

The driver's correctness gate records at most 50 queries (alphabetically
first), so the long-tail variants are fused into *suite* queries — a
UNION ALL of the member queries' outputs projected onto one typed common
schema with a ``part`` tag column — while the 20 headline bench queries
stay standalone. Every §2 operator keeps a driver-checked entry; the
individual member queries remain registered (pytest replica + bench)
but are NOT exposed through ``__spark_entry__.queries()``.

Determinism/portability rules (see plans/registry.py):

- Suite columns carry only BIGINT / DOUBLE / VARCHAR / BOOLEAN /
  TIMESTAMP — the portable pandas-fetch types.
- Columns a member lacks are padded with typed NON-NULL sentinels
  (-1 / '' / FALSE / epoch), never NULL: an all-NULL column reaches
  pandas as object-None on one engine and float-NaN on the other, which
  the strict comparator correctly rejects. Genuine NULLs inside member
  outputs (rollup group keys, funnel timestamps) are preserved — those
  already hash-match individually, and identical content coerces to the
  identical pandas dtype on both engines.
- Every mapping value is a single expression string valid in BOTH Spark
  SQL and DuckDB SQL (column refs, CAST(x AS DOUBLE), 'literal'), so one
  spec generates both sides and they cannot drift.
- Suites compose their members' UNSORTED bodies (``Query.body`` /
  ``Query.oracle_body``): no member sort runs inside a suite. The suite's
  own presentation order, ``("part", *Suite.order)``, is registered as
  its ``order`` and applied once by the registry, like any other query's.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.plans.registry import REGISTRY, register

_SPARK_T = {
    "bigint": "bigint",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "timestamp": "timestamp_ntz",
}
_DUCK_T = {
    "bigint": "BIGINT",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
}
# Non-NULL pads (see module docstring). Expression strings valid in both engines.
_PAD = {
    "bigint": "-1",
    "double": "-1.0",
    "string": "''",
    "boolean": "FALSE",
    "timestamp": "TIMESTAMP '1970-01-01 00:00:00'",
}


@dataclass(frozen=True)
class Part:
    tag: str
    src: str  # member query name in REGISTRY
    m: dict  # out column -> expression over the member's output columns


@dataclass(frozen=True)
class Suite:
    name: str
    cols: list  # [(col, logical type)]
    parts: list
    order: list  # order-by columns (after part)
    doc: str
    tags: tuple
    # Run members as SEQUENTIAL spillable jobs instead of one fused plan
    # (VERDICT r6 task 3): a fused N-member union holds every member's
    # exchanges alive in one job — the shape that OOMed q_d2's 5 shuffle-
    # heavy members at sf1 under the driver-default 1 GB heap. With
    # materialize=True each member runs alone (peak memory = ONE member),
    # its small result lands in a temp parquet table, and the suite
    # returns the union of those tables pinned DISK_ONLY.
    materialize: bool = False


def _spark_fn(suite: Suite):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        store = None
        if suite.materialize:
            from receiptanalyzerpipeline_spark.operators.components import _IterStore

            store = _IterStore(spark, f"rap-{suite.name}-")
        try:
            # Parts sharing one member query are fused into a SINGLE pass
            # (r11, guide §2.1/§6.3 scan sharing): q_x25 projected q_x34
            # twice and q_x35 three times as separate union branches, and
            # Catalyst's column pruning specializes each branch's copy of
            # the member subtree (different output columns), so runtime
            # exchange reuse can never dedupe them — the member pipeline
            # (q_x34's brute-force top-k over the corpus) executed once
            # PER PART. Building the member once (also dropping q_x35's
            # 3× build-time emb.count() jobs) and exploding an array of
            # per-part structs emits all those parts' rows from one
            # evaluation: same rows, same types — only the number of
            # passes changes.
            by_src: dict[str, list] = {}
            for p in suite.parts:
                by_src.setdefault(p.src, []).append(p)

            def _row(p) -> list:
                sel = [F.lit(p.tag).alias("part")]
                for col, typ in suite.cols:
                    expr = p.m.get(col, _PAD[typ])
                    sel.append(F.expr(expr).cast(_SPARK_T[typ]).alias(col))
                return sel

            dfs = []
            for src_name, plist in by_src.items():
                src = REGISTRY[src_name].body(spark, sf_dir)
                if len(plist) == 1:
                    part_df = src.select(*_row(plist[0]))
                else:
                    part_df = src.select(
                        F.explode(
                            F.array(*[F.struct(*_row(p)) for p in plist])
                        ).alias("_r")
                    ).select("_r.*")
                dfs.append(store.put(part_df) if store else part_df)
            out = reduce(lambda a, b: a.unionByName(b), dfs)
            # detach, not finish: the per-part parquet tables already
            # are the spillable materialization; re-pinning the union
            # DISK_ONLY re-serialized 51.6M rows for 68 s at sf1 (r8).
            return store.detach(out) if store else out
        finally:
            if store:
                store.close()

    return fn


def _part_sql(suite: Suite, p: Part) -> str:
    src_sql = REGISTRY[p.src].oracle_body
    assert src_sql is not None, f"suite member {p.src} has no oracle"
    cols = [f"'{p.tag}' AS part"]
    for col, typ in suite.cols:
        expr = p.m.get(col, _PAD[typ])
        cols.append(f"CAST(({expr}) AS {_DUCK_T[typ]}) AS {col}")
    return "SELECT " + ",\n       ".join(cols) + f"\nFROM (\n{src_sql}\n) AS _p"


def _register_suite(suite: Suite) -> None:
    members = tuple(p.src for p in suite.parts)
    register(
        suite.name,
        oracle="\nUNION ALL\n".join(_part_sql(suite, p) for p in suite.parts),
        doc=suite.doc + f" [fuses: {', '.join(members)}]",
        tags=suite.tags + ("suite",),
        order=("part", *suite.order),
    )(_spark_fn(suite))
    SUITE_MEMBERS[suite.name] = members
    _SUITE_SPECS[suite.name] = suite


# suite name -> member query names (for coverage accounting/tests)
SUITE_MEMBERS: dict[str, tuple] = {}

# suite name -> Suite spec (for part-wise oracle fallback)
_SUITE_SPECS: dict[str, "Suite"] = {}


def part_oracle_sqls(suite_name: str) -> dict[str, str]:
    """tag -> standalone DuckDB oracle SQL for each Part of a registered
    suite — the fused suite SQL restricted to one part (VERDICT r8 task
    2: when DuckDB OOMs computing the FUSED union at sf1, each part's
    oracle can still run alone under the spill cap, and the sweep
    value-checks the suite part-by-part against the already-written
    Spark parquet). Raises KeyError for non-suite queries."""
    suite = _SUITE_SPECS[suite_name]
    return {p.tag: _part_sql(suite, p) for p in suite.parts}


_SUITES = [
    Suite(
        "q_a4_grouping_suite",
        cols=[("g1", "string"), ("g2", "string"), ("n", "bigint"), ("v", "double")],
        parts=[
            Part("rollup", "q_a4_rollup", {"g1": "r_name", "g2": "n_name", "n": "n_cust", "v": "sum_bal"}),
            Part("cube", "q_a6_cube", {"g1": "l_returnflag", "g2": "l_linestatus", "n": "n", "v": "sum_qty"}),
            Part("gsets", "q_a7_grouping_sets", {"g1": "l_returnflag", "g2": "l_linestatus", "n": "n", "v": "sum_price"}),
        ],
        order=["g1", "g2", "n"],
        doc="ROLLUP + CUBE + GROUPING SETS in one driver entry (SURVEY A5).",
        tags=("agg", "olap"),
    ),
    Suite(
        "q_a8_stats_profile",
        cols=[("grp", "string"), ("m1", "double"), ("m2", "double"), ("m3", "double"), ("m4", "double")],
        parts=[
            Part("quartiles", "q_a8_quartiles", {"grp": "l_returnflag", "m1": "q25", "m2": "q50", "m3": "q75", "m4": "q_max"}),
            Part("ols", "q_a10_regression_profile", {"grp": "l_returnflag", "m1": "n", "m2": "slope", "m3": "intercept", "m4": "r"}),
            Part(
                "distinct",
                "q_a2_count_distinct",
                {
                    "grp": "'counts'",
                    "m1": "CAST(n_parts AS DOUBLE)",
                    "m2": "CAST(n_supps AS DOUBLE)",
                    "m3": "CAST(n_rows AS DOUBLE)",
                },
            ),
        ],
        order=["grp"],
        doc="Exact quartiles + OLS/Pearson profile + distinct counts (SURVEY A4/A6).",
        tags=("agg", "statistics", "olap"),
    ),
    Suite(
        "q_as1_asof_suite",
        cols=[
            ("event_id", "bigint"),
            ("user_id", "bigint"),
            ("vts", "timestamp"),
            ("purchase_id", "bigint"),
            ("micros", "bigint"),
        ],
        parts=[
            Part(
                "asof",
                "q_as1_asof_attribution",
                {"event_id": "event_id", "user_id": "user_id", "vts": "vts", "purchase_id": "last_purchase_id", "micros": "micros_since_purchase"},
            ),
            Part(
                "tolerance",
                "q_as3_asof_tolerance",
                {"event_id": "event_id", "user_id": "user_id", "vts": "vts", "purchase_id": "recent_purchase_id"},
            ),
        ],
        order=["event_id"],
        doc="As-of join (backward) + bounded-tolerance as-of (SURVEY J4).",
        tags=("join", "asof", "temporal"),
    ),
    Suite(
        "q_d1_exact_dedup_suite",
        cols=[("doc_id", "bigint"), ("s", "string")],
        parts=[
            Part("exact", "q_d1_exact_dedup", {"doc_id": "doc_id", "s": "fp"}),
            Part("incremental", "q_d9_incremental_dedup", {"doc_id": "doc_id", "s": "status"}),
        ],
        order=["doc_id", "s"],
        doc="Exact hash dedup + incremental new-batch-vs-corpus dedup (SURVEY N1/J2).",
        tags=("dedup",),
    ),
    Suite(
        "q_d2_neardup_suite",
        cols=[("id_a", "bigint"), ("id_b", "bigint"), ("v1", "double"), ("v2", "double"), ("kept", "boolean")],
        parts=[
            Part("ngram", "q_d2_ngram_jaccard", {"id_a": "id_a", "id_b": "id_b", "v1": "jaccard"}),
            Part("simhash", "q_d4_simhash", {"id_a": "id_a", "id_b": "id_b", "v1": "CAST(hamming AS DOUBLE)"}),
            Part("simhashw", "q_d4b_simhash_wide", {"id_a": "id_a", "id_b": "id_b", "v1": "CAST(hamming AS DOUBLE)"}),
            Part("cosine", "q_d5_cosine_neardup", {"id_a": "id_a", "id_b": "id_b", "v1": "sim"}),
            Part("crossmodal", "q_d6_crossmodal_neardup", {"id_a": "id_a", "id_b": "id_b", "v1": "cos_sim", "v2": "jaccard"}),
            Part("semantic", "q_d8_semantic_dedup", {"id_a": "vec_id", "id_b": "bucket", "kept": "kept"}),
            Part("keepbest", "q_d10_keep_best_canonical", {"id_a": "doc_id", "id_b": "cluster_id", "v1": "CAST(n_tokens AS DOUBLE)", "kept": "is_canonical"}),
        ],
        order=["id_a", "id_b"],
        doc=(
            "Near-duplicate family: n-gram Jaccard, SimHash pigeonhole bands, "
            "embedding cosine, cross-modal, SemDeDup-style semantic dedup, "
            "and keep-best canonical selection per dup cluster "
            "(SURVEY N2/N3, §2.11)."
        ),
        tags=("dedup", "similarity"),
        materialize=True,
    ),
    Suite(
        "q_g1_graph_suite",
        cols=[("doc_id", "bigint"), ("v", "double")],
        parts=[
            Part("pagerank", "q_g1_pagerank", {"doc_id": "doc_id", "v": "pagerank"}),
            Part("components", "q_d7_dedup_clusters", {"doc_id": "doc_id", "v": "CAST(cluster_id AS DOUBLE)"}),
        ],
        order=["doc_id"],
        doc="Iterative graph ops: PageRank + connected-component dedup clusters.",
        tags=("graph", "dedup"),
    ),
    Suite(
        "q_f1_string_money",
        cols=[
            ("id", "bigint"),
            ("s1", "string"),
            ("s2", "string"),
            ("s3", "string"),
            ("s4", "string"),
            ("n", "bigint"),
            ("v", "double"),
        ],
        parts=[
            Part(
                "string",
                "q_f1_string_ops",
                {"id": "p_partkey", "s1": "name_head", "s2": "brand_num", "s3": "type_masked", "s4": "name_upper", "n": "name_len"},
            ),
            Part("money", "q_f4_money_roundtrip", {"id": "p_partkey", "s1": "money_str", "s2": "currency", "v": "amount"}),
        ],
        order=["id"],
        doc="String/regex ops + money parse-format roundtrip (SURVEY F1/F2/F4).",
        tags=("string", "money"),
    ),
    Suite(
        "q_f2_date_json",
        cols=[
            ("grp", "string"),
            ("ts", "timestamp"),
            ("n1", "bigint"),
            ("n2", "bigint"),
            ("n3", "bigint"),
            ("n4", "bigint"),
            ("v", "double"),
        ],
        parts=[
            Part("date", "q_f2_date_ops", {"ts": "order_month", "n1": "order_year", "n2": "n_orders", "v": "month_total"}),
            Part("json", "q_f3_json_map", {"grp": "event_type", "n1": "n", "n2": "sum_k", "n3": "min_k", "n4": "max_k"}),
        ],
        order=["grp", "ts"],
        doc="Date truncation/extraction + JSON-map extraction aggregates (SURVEY F3/F7/F12).",
        tags=("date", "json"),
    ),
    Suite(
        "q_j3_semi_anti",
        cols=[("key", "bigint"), ("name", "string")],
        parts=[
            Part("anti", "q_j3_anti", {"key": "c_custkey", "name": "c_name"}),
            Part("semi", "q_j4_semi", {"key": "s_suppkey", "name": "s_name"}),
        ],
        order=["key"],
        doc="LEFT ANTI (customers w/o orders) + LEFT SEMI (suppliers with orders), SURVEY J5.",
        tags=("join",),
    ),
    Suite(
        "q_m1_image_suite",
        cols=[("s1", "string"), ("s2", "string"), ("n", "bigint")],
        parts=[
            Part("ahash", "q_m1_image_ahash", {"s1": "path", "s2": "ahash", "n": "ahash_bits"}),
            Part("neardup", "q_m2_image_neardup", {"s1": "id_a", "s2": "id_b", "n": "hamming"}),
        ],
        order=["s1", "s2"],
        doc="Perceptual aHash over binaryFile images + Hamming near-dup pairs (SURVEY F8/N2).",
        tags=("multimodal", "image"),
    ),
    Suite(
        "q_n1_text_profile",
        cols=[
            ("grp", "string"),
            ("tok", "string"),
            ("n1", "bigint"),
            ("n2", "bigint"),
            ("v", "double"),
            ("rk", "bigint"),
            ("b", "boolean"),
        ],
        parts=[
            Part("stats", "q_n1_doc_stats", {"grp": "lang", "n1": "n_docs", "n2": "total_chars", "v": "avg_chars"}),
            Part("tokens", "q_n1b_top_tokens", {"tok": "tok", "n1": "n"}),
            Part(
                "tfidf",
                "q_n3_distinctive_terms",
                {"grp": "source", "tok": "tok", "n1": "tf", "n2": "n_sources", "v": "score", "rk": "rk"},
            ),
            Part("audit", "q_q1_quality_audit", {"grp": "chk", "n1": "n_violations", "b": "passed"}),
        ],
        order=["grp", "tok", "rk"],
        doc="Documents profiling: per-lang stats, top tokens, distinctive terms (tf-idf), quality audit (SURVEY N6).",
        tags=("text",),
    ),
    Suite(
        "q_p2_projection_suite",
        cols=[("id", "bigint"), ("s", "string"), ("n", "bigint"), ("v1", "double"), ("v2", "double"), ("v3", "double")],
        parts=[
            Part("case", "q_p2_case_cast", {"id": "o_orderkey", "s": "size_class", "v1": "price_dec"}),
            Part("subquery", "q_p3_above_brand_avg", {"id": "p_partkey", "s": "p_brand", "v1": "price"}),
            Part("unpivot", "q_p4_unpivot", {"s": "measure", "n": "n", "v1": "total", "v2": "vmin", "v3": "vmax"}),
            Part("zorder", "q_p5_zorder_cell", {"id": "l_orderkey", "n": "l_linenumber", "v1": "z"}),
        ],
        order=["id", "s"],
        doc="CASE/cast projection + correlated-subquery filter + unpivot/melt + Morton z-cell (SURVEY P3, §2.2, N7).",
        tags=("projection",),
    ),
    Suite(
        "q_t4_event_suite",
        cols=[
            ("id", "bigint"),
            ("ts1", "timestamp"),
            ("ts2", "timestamp"),
            ("ts3", "timestamp"),
            ("n1", "bigint"),
            ("n2", "bigint"),
            ("s", "string"),
            ("v", "double"),
        ],
        parts=[
            Part("dedup", "q_t2_dedup", {"id": "event_id", "ts1": "ts", "n1": "user_id", "s": "event_type", "v": "value"}),
            Part("session", "q_t4_session_window", {"id": "user_id", "ts1": "session_start", "ts2": "session_end", "n1": "n_events"}),
            Part(
                "funnel",
                "q_t6_funnel",
                {"id": "user_id", "ts1": "view_ts", "ts2": "click_ts", "ts3": "purchase_ts", "n1": "stage"},
            ),
            Part("cohort", "q_t7_cohort_retention", {"ts1": "cohort_week", "n1": "week_offset", "n2": "n_users"}),
        ],
        order=["id", "ts1", "ts2", "n1"],
        doc="Event-time family: stream-dedup batch shape, session windows, funnel, cohort retention (SURVEY T6/T7).",
        tags=("temporal", "events"),
    ),
    Suite(
        "q_u1_setops",
        cols=[("nationkey", "bigint"), ("src", "string")],
        parts=[
            Part("except", "q_u1_except", {"nationkey": "nationkey"}),
            Part("unionintersect", "q_u2_union_intersect", {"nationkey": "nationkey", "src": "src"}),
            # SQL front door write path (VERDICT r6 task 8): the member
            # runs create→insert→merge→delete→AS-OF-select through
            # EngineSession.sql(); its oracle replays every version as
            # CTEs — this Part gives the SQL write surface a driver-
            # hash-checked CORRECTNESS row while the window stays at 50.
            Part("sqlwrite", "q_u3_sql_write_lifecycle", {"nationkey": "k", "src": "state"}),
        ],
        order=["nationkey", "src"],
        doc="EXCEPT + UNION/INTERSECT set operations (SURVEY §2.7) + SQL-front-door write lifecycle (CTAS/INSERT/MERGE/DELETE/AS-OF).",
        tags=("setops", "sql"),
    ),
    Suite(
        "q_w1_window_suite",
        cols=[
            ("id", "bigint"),
            ("id2", "bigint"),
            ("s", "string"),
            ("v", "double"),
            ("v2", "double"),
            ("v3", "double"),
            ("n1", "bigint"),
            ("n2", "bigint"),
            ("n3", "bigint"),
            ("ts1", "timestamp"),
            ("ts2", "timestamp"),
            ("b", "boolean"),
        ],
        parts=[
            Part(
                "ranking",
                "q_w1_ranking",
                {"id": "c_custkey", "s": "c_mktsegment", "v": "c_acctbal", "n1": "rn", "n2": "rnk", "n3": "drnk"},
            ),
            Part(
                "distribution",
                "q_w5_distribution_ranks",
                {"id": "c_custkey", "s": "c_mktsegment", "v": "COALESCE(next_bal, -1.0)", "v2": "prk", "v3": "cd", "n1": "rn", "n2": "nt"},
            ),
            Part("rangeframe", "q_w3_range_frame", {"id": "o_orderkey", "id2": "o_custkey", "ts1": "o_orderdate", "v": "trail7d_total"}),
            Part(
                "scd2",
                "q_w4_scd2_intervals",
                {"id": "event_id", "id2": "user_id", "s": "event_type", "ts1": "valid_from", "ts2": "valid_to", "b": "is_current"},
            ),
        ],
        order=["id", "ts1"],
        doc="Window functions: ranking trio, distribution ranks (ntile/percent_rank/cume_dist/lead), 7-day range frame, SCD2 validity intervals (SURVEY §2.5).",
        tags=("window",),
    ),
    Suite(
        "q_x10_selection_suite",
        cols=[("doc_id", "bigint"), ("grp", "string"), ("n1", "bigint"), ("n2", "bigint"), ("v", "double"), ("b", "boolean")],
        parts=[
            Part("split", "q_x7_leakage_safe_split", {"doc_id": "doc_id", "grp": "split", "n1": "split_key"}),
            Part("mixture", "q_x10_data_mixture", {"grp": "source", "n1": "n_total", "n2": "n_kept", "v": "kept_frac"}),
            Part("temperature", "q_x29_temperature_mixture", {"grp": "source", "n1": "n_total", "n2": "n_kept", "v": "rate"}),
            Part("quantile", "q_x14_quantile_filter", {"doc_id": "doc_id", "grp": "lang", "n1": "rn", "n2": "cnt", "v": "stop_ratio"}),
            Part("dsir", "q_x18_dsir_importance", {"doc_id": "doc_id", "grp": "source", "n1": "n_feats", "v": "log_weight"}),
            Part("quota", "q_x19_quota_capping", {"doc_id": "doc_id", "grp": "lang", "n1": "rk", "b": "kept"}),
            # Budget allocator audit rows: exact token sums + bounds.
            Part("budget", "q_x33_budget_allocator", {"grp": "source", "n1": "target", "n2": "kept_tokens", "v": "CAST(bound AS DOUBLE)", "b": "exhausted"}),
        ],
        order=["doc_id", "grp", "n1"],
        doc=(
            "Training-data selection family: leakage-safe hash split, mixture "
            "rebalancing, temperature-based (tau=0.5) source reweighting, "
            "per-lang quantile filter, DSIR importance weights, "
            "per-source quota capping, and the token-budget allocator "
            "(per-source targets -> md5-bucket keep bounds, exact sums)."
        ),
        tags=("curation", "sampling"),
        # 7 shuffle-heavy members fused into one job spilled hard at sf1
        # (369.6 s under the 1 GB envelope) — run them sequentially.
        materialize=True,
    ),
    Suite(
        "q_x12_packing_suite",
        cols=[("shard_id", "bigint"), ("doc_id", "bigint"), ("n1", "bigint"), ("n2", "bigint"), ("n3", "bigint")],
        parts=[
            Part("shards", "q_x12_shard_packing", {"shard_id": "shard_id", "n1": "n_docs", "n2": "total_tokens"}),
            Part(
                "sequences",
                "q_x13_sequence_packing",
                {"shard_id": "shard_id", "doc_id": "doc_id", "n1": "n_tok", "n2": "token_offset", "n3": "chunk_id"},
            ),
            # The STREAMING curation loop's exported membership vs its
            # batch-SQL replay (VERDICT r8 task 8): the one driver row
            # that executes the checkpointed foreachBatch topology.
            Part(
                "stream_membership",
                "q_x36_streaming_membership",
                {"shard_id": "shard_id", "doc_id": "doc_id"},
            ),
        ],
        order=["shard_id", "doc_id", "n1"],
        doc="Token-budget shard packing + sequence packing with running offsets + streaming-curation shard membership (batch parity).",
        tags=("curation", "packing", "streaming"),
    ),
    Suite(
        "q_x15_chunking_suite",
        cols=[("doc_id", "bigint"), ("n1", "bigint"), ("n2", "bigint"), ("s", "string")],
        parts=[
            Part("chunks", "q_x15_overlap_chunks", {"doc_id": "doc_id", "n1": "chunk_idx", "n2": "chunk_tokens", "s": "chunk_md5"}),
            Part("spans", "q_x23_span_removal", {"doc_id": "doc_id", "n1": "n_tokens", "n2": "n_removed", "s": "clean_text"}),
        ],
        order=["doc_id", "n1"],
        doc="Overlapping token chunking + repeated-span removal.",
        tags=("curation", "text"),
    ),
    Suite(
        "q_x20_mining_suite",
        cols=[("id1", "bigint"), ("id2", "bigint"), ("v", "double"), ("rk", "bigint")],
        parts=[
            Part("outliers", "q_x20_embedding_outliers", {"id1": "label", "id2": "vec_id", "v": "dist2", "rk": "rk"}),
            Part("hardneg", "q_x21_hard_negatives", {"id1": "anchor_id", "id2": "neg_id", "v": "sim", "rk": "rank"}),
        ],
        order=["id1", "rk", "id2"],
        doc="Embedding-space mining: per-label centroid outliers + LSH-bucketed hard negatives.",
        tags=("similarity", "mining"),
    ),
    Suite(
        "q_x22_portable_ml",
        cols=[("id1", "bigint"), ("id2", "bigint"), ("v", "double"), ("rk", "bigint"), ("s", "string")],
        parts=[
            Part("kmeans", "q_x22_kmeans_portable", {"id1": "vec_id", "id2": "cluster", "v": "dist2"}),
            Part("ivf", "q_x27_ivf_portable", {"id1": "q_id", "id2": "vec_id", "v": "sim", "rk": "rank"}),
            Part("pq", "q_x30_pq_ann", {"id1": "q_id", "id2": "vec_id", "v": "qdist", "rk": "rank"}),
            Part("bpe", "q_x31_bpe_train", {"id1": "step", "id2": "pair_count", "s": "merged"}),
        ],
        order=["id1", "rk", "id2"],
        doc="DuckDB-replayable iterative ML: pico-quantized k-means + IVF ANN search over its cells + product-quantization ADC search + BPE tokenizer training.",
        tags=("similarity", "ml"),
    ),
    Suite(
        "q_x25_model_scoring",
        cols=[("doc_id", "bigint"), ("n", "bigint"), ("v", "double")],
        parts=[
            Part("perplexity", "q_x25_lm_perplexity", {"doc_id": "doc_id", "n": "n_bigrams", "v": "nll_per_token"}),
            Part("embed", "q_x26_embed_documents", {"doc_id": "doc_id", "n": "dim", "v": "val"}),
            # (qid, rrf) per retrieved doc; rank is recoverable from rrf
            # order, src is pytest-verified on the standalone query.
            Part("hybrid_rrf", "q_x32_hybrid_rrf", {"doc_id": "doc_id", "n": "qid", "v": "rrf"}),
            # Two projections of the same eval query: recall@10 then MRR@10.
            Part("retrieval_recall", "q_x34_retrieval_metrics", {"doc_id": "qid", "n": "hits", "v": "recall"}),
            Part("retrieval_mrr", "q_x34_retrieval_metrics", {"doc_id": "qid", "n": "n_relevant", "v": "mrr"}),
            # ANN auto-params (round 6): python operators vs closed-form
            # SQL, both engines — v carries the python literal for the pin.
            Part("autoparam_planes", "q_x35_ann_autoparams", {"doc_id": "n", "n": "n_planes", "v": "CAST(planes_py AS DOUBLE)"}),
            Part("autoparam_tables", "q_x35_ann_autoparams", {"doc_id": "n", "n": "n_tables", "v": "CAST(tables_py AS DOUBLE)"}),
            Part("autoparam_cells", "q_x35_ann_autoparams", {"doc_id": "n", "n": "n_cells", "v": "CAST(cells_py AS DOUBLE)"}),
        ],
        order=["doc_id", "n"],
        doc="Model-scoring boundary: bigram-LM perplexity + deterministic document embedder (exploded to scalars).",
        tags=("curation", "model"),
    ),
]

for _s in _SUITES:
    _register_suite(_s)


# ---------------------------------------------------------------------------
# q_x1_text_analysis — join-fused (all members are per-doc projections on
# documents, so one row per doc_id with every metric is the natural shape).
# ---------------------------------------------------------------------------

_X1_MEMBERS = (
    "q_x1_lang_id",
    "q_x2_quality",
    "q_x3_token_count",
    "q_x4_fingerprint",
    "q_x8_pii_redaction",
)


def _x1_oracle() -> str:
    subs = {name: REGISTRY[name].oracle_body for name in _X1_MEMBERS}
    return f"""
        SELECT a.doc_id, a.lang, a.lang_pred,
               b.n_tokens, b.punct_cnt, b.stop_ratio, b.quality,
               c.ws_tokens, c.bpe_tokens,
               d.fp,
               e.n_emails, e.n_phones, e.redacted
        FROM ({subs['q_x1_lang_id']}) a
        JOIN ({subs['q_x2_quality']}) b USING (doc_id)
        JOIN ({subs['q_x3_token_count']}) c USING (doc_id)
        JOIN ({subs['q_x4_fingerprint']}) d USING (doc_id)
        JOIN ({subs['q_x8_pii_redaction']}) e USING (doc_id)
    """


def _x1_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b, c, d, e = (REGISTRY[name].body(spark, sf_dir) for name in _X1_MEMBERS)
    return (
        a.join(b, "doc_id")
        .join(c, "doc_id")
        .join(d, "doc_id")
        .join(e, "doc_id")
        .select(
            "doc_id", "lang", "lang_pred",
            "n_tokens", "punct_cnt", "stop_ratio", "quality",
            "ws_tokens", "bpe_tokens",
            "fp",
            "n_emails", "n_phones", "redacted",
        )
    )


register(
    "q_x1_text_analysis",
    oracle=_x1_oracle(),
    doc=(
        "Per-document text-analysis profile joining language-ID, quality "
        "scoring, token counting, rolling-hash fingerprint, and PII "
        "redaction into one row per doc (SURVEY §2.11 N6). "
        f"[fuses: {', '.join(_X1_MEMBERS)}]"
    ),
    tags=("text", "curation", "suite"),
    order=("doc_id",),
)(_x1_spark)
SUITE_MEMBERS["q_x1_text_analysis"] = _X1_MEMBERS

# q_a5_sketch_accuracy (plans/olap.py) is not a union-wrapper but subsumes the
# three rows-only sketch queries with a fully oracle-checked tolerance surface.
SUITE_MEMBERS["q_a5_sketch_accuracy"] = (
    "q_a5_approx_distinct",
    "q_a9_approx_quartiles",
    "q_a11_mergeable_hll",
)


# ---------------------------------------------------------------------------
# Exposure list: what __spark_entry__.queries() hands the driver.
# ---------------------------------------------------------------------------

DRIVER_NAMES: tuple = (
    # aggregates
    "q_a1_conditional_pivot",
    "q_a3_tpch_q1",
    "q_a4_grouping_suite",
    "q_a5_sketch_accuracy",  # registered in olap.py (exact+sketch tolerance surface)
    "q_a8_stats_profile",
    # as-of joins
    "q_as1_asof_suite",
    "q_as2_prepurchase_window",
    # dedup
    "q_d1_exact_dedup_suite",
    "q_d2_neardup_suite",
    "q_d3_minhash_lsh",
    # receipts (golden + OCR path)
    "q_e1_receipt_summary",
    "q_e2_receipt_line_items",
    "q_e3_ocr_pipeline",
    # entity resolution
    "q_er1_fuzzy_match",
    "q_er2_qgram_edit_join",
    "q_er3_linkage_scoring",
    # scalar functions
    "q_f1_string_money",
    "q_f2_date_json",
    # graph
    "q_g1_graph_suite",
    # joins
    "q_j1_multijoin_revenue",
    "q_j2_reconciliation",
    "q_j3_semi_anti",
    # multimodal
    "q_m1_image_suite",
    # north-star
    "q_n1_text_profile",
    "q_n2_embedding_topk",
    # projections
    "q_p1_filter_project",
    "q_p2_projection_suite",
    # sorts
    "q_s1_topk",
    # temporal
    "q_t1_tumbling_window",
    "q_t3_sessionization",
    "q_t4_event_suite",
    "q_t5_sliding_window",
    # set ops
    "q_u1_setops",
    # windows
    "q_w1_window_suite",
    "q_w2_lag_running",
    # LLM curation / similarity
    "q_x1_text_analysis",
    "q_x5_ann_lsh",
    "q_x6_ann_ivf",
    "q_x9_repetition_filter",
    "q_x10_selection_suite",
    "q_x11_decontamination",
    "q_x12_packing_suite",
    "q_x15_chunking_suite",
    "q_x16_heuristic_quality",
    "q_x17_substring_dedup",
    "q_x20_mining_suite",
    "q_x22_portable_ml",
    "q_x24_curation_pipeline",
    "q_x25_model_scoring",
    "q_x28_bm25_retrieval",
)


def driver_registry() -> dict:
    """Name → Query for exactly the entries the driver gate records."""
    missing = [n for n in DRIVER_NAMES if n not in REGISTRY]
    assert not missing, f"driver registry names not registered: {missing}"
    assert len(DRIVER_NAMES) <= 50, f"driver window is 50 entries, got {len(DRIVER_NAMES)}"
    return {n: REGISTRY[n] for n in DRIVER_NAMES}
