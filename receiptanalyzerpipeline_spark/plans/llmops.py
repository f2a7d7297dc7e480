"""LLM-data-pipeline queries (SURVEY §2.11 / Q-N1 / Q-N2): dedup,
similarity search, and text analysis over documents + embeddings,
each oracle-checked against the same math replayed in DuckDB SQL
(md5-derived hashes and rounded cosines are engine-portable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from receiptanalyzerpipeline_spark.catalog import table
from receiptanalyzerpipeline_spark.operators import dedup as D
from receiptanalyzerpipeline_spark.operators import similarity as S
from receiptanalyzerpipeline_spark.operators import textanalysis as T
from receiptanalyzerpipeline_spark.operators.textanalysis import DUCK_TOKENS
from receiptanalyzerpipeline_spark.plans.registry import register

# Shared SQL fragments -------------------------------------------------------
# DUCK_TOKENS replays operators/textanalysis.tokens() exactly (whitespace-run
# split, empties dropped) so token-derived oracles hold for arbitrary text,
# not just the single-spaced synthetic corpus.

_SHINGLES_CTE = f"""
        toks AS (SELECT doc_id, {DUCK_TOKENS} t FROM documents),
        shingles AS (
            SELECT doc_id,
                   list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  for i in range(1, len(t) - 1)]) s
            FROM toks WHERE len(t) >= 3
        ),
        e AS (SELECT doc_id, unnest(s) AS sh FROM shingles),
        sizes AS (SELECT doc_id, len(s) AS n FROM shingles)
"""

_JACCARD_SQL = f"""
        WITH {_SHINGLES_CTE},
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings")


# Text analysis --------------------------------------------------------------


@register(
    "q_n1_doc_stats",
    oracle="""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM documents GROUP BY lang
    """,
    doc="Per-language corpus stats (SURVEY Q-N1).",
    tags=("text", "agg"),
    order=("lang",),
)
def q_n1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        )
    )


@register(
    "q_n1b_top_tokens",
    oracle=f"""
        SELECT tok, COUNT(*) AS n
        FROM (SELECT unnest({DUCK_TOKENS}) AS tok FROM documents) t
        GROUP BY tok ORDER BY n DESC, tok LIMIT 20
    """,
    doc="Corpus-wide top tokens via explode (SURVEY Q-N1/N6).",
    tags=("text", "agg", "topk"),
)
def q_n1b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


@register(
    "q_x1_lang_id",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   len(list_filter({DUCK_TOKENS}, x -> x IN ('hash','sort','scan','batch'))) AS s_de,
                   len(list_filter({DUCK_TOKENS}, x -> x IN ('the','a','fast','slow','big','small'))) AS s_en,
                   len(list_filter({DUCK_TOKENS}, x -> x IN ('data','table','row','column'))) AS s_es,
                   len(list_filter({DUCK_TOKENS}, x -> x IN ('query','filter','join','merge'))) AS s_fr,
                   len(list_filter({DUCK_TOKENS}, x -> x IN ('spark','stream','window','vector'))) AS s_zh
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN s_de > 0 AND s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
                    WHEN s_en > 0 AND s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
                    WHEN s_es > 0 AND s_es >= greatest(s_de, s_en, s_fr, s_zh) THEN 'es'
                    WHEN s_fr > 0 AND s_fr >= greatest(s_de, s_en, s_es, s_zh) THEN 'fr'
                    WHEN s_zh > 0 AND s_zh >= greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
                    ELSE 'unknown' END AS lang_pred
        FROM scored
    """,
    doc="n-gram-marker language ID: token-overlap argmax, deterministic ties (SURVEY N6).",
    tags=("text", "langid"),
)
def q_x1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", "lang", T.lang_id(F.col("text")).alias("lang_pred")
    )


@register(
    "q_x2_quality",
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   len({DUCK_TOKENS}) AS n_tokens,
                   len(regexp_extract_all(text, '[^\\w\\s]')) AS punct_cnt,
                   len(list_filter({DUCK_TOKENS},
                       x -> x IN ('the','a','of','and','to','in'))) AS stop_cnt
            FROM documents
        )
        SELECT doc_id, n_tokens, punct_cnt,
               CASE WHEN n_tokens > 0
                    THEN CAST(stop_cnt AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
               CASE WHEN n_tokens < 5 THEN 'too_short'
                    WHEN CASE WHEN n_tokens > 0
                              THEN CAST(stop_cnt AS DOUBLE) / n_tokens ELSE 0.0 END > 0.5
                         THEN 'boilerplate'
                    ELSE 'ok' END AS quality
        FROM m
    """,
    doc="Document quality scoring: length/punctuation/stopword signals (SURVEY N6).",
    tags=("text", "quality"),
)
def q_x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        T.token_count_ws(text).cast("long").alias("n_tokens"),
        T.punct_count(text).cast("long").alias("punct_cnt"),
        T.stopword_ratio(text).alias("stop_ratio"),
        T.quality_class(text).alias("quality"),
    )


@register(
    "q_x3_token_count",
    oracle=f"""
        SELECT doc_id,
               len({DUCK_TOKENS}) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
        FROM documents
    """,
    doc="Token counting: whitespace + BPE-ish regex pre-tokenization (SURVEY N6).",
    tags=("text", "tokens"),
)
def q_x3(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        T.token_count_ws(text).cast("long").alias("ws_tokens"),
        T.token_count_bpe(text).cast("long").alias("bpe_tokens"),
    )


@register(
    "q_x4_fingerprint",
    oracle="""
        SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
    """,
    doc="Exact-content fingerprint (md5 of normalized text; SURVEY N6; the "
    "textual analogue of the reference's image hash, anarcptlib.py:152-153).",
    tags=("text", "fingerprint"),
)
def q_x4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", T.content_fingerprint(F.col("text")).alias("fp")
    )


# Dedup ----------------------------------------------------------------------


@register(
    "q_d1_exact_dedup",
    oracle="""
        WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000 AS doc_id, text FROM documents
        ),
        ranked AS (
            SELECT doc_id, md5(lower(trim(text))) AS fp,
                   ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                      ORDER BY doc_id) AS rn
            FROM all_docs
        )
        SELECT doc_id, fp FROM ranked WHERE rn = 1
    """,
    doc=(
        "Exact dedup with injected duplicates: corpus ∪ shifted-id clone, "
        "hash-groupBy keeps the lowest-id survivor (SURVEY N1; the "
        "reference's rename-to-hash collision as a distributed op)."
    ),
    tags=("dedup",),
)
def q_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    clones = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    deduped = D.exact_dedup(docs.unionByName(clones), "text", "doc_id")
    return deduped.select("doc_id", T.content_fingerprint(F.col("text")).alias("fp"))


@register(
    "q_d2_ngram_jaccard",
    oracle=_JACCARD_SQL,
    doc=(
        "Exact 3-gram Jaccard near-dup pairs ≥ 0.5 via shingle inverted-index "
        "join — shuffles on shingle, not doc×doc (SURVEY N3)."
    ),
    tags=("dedup", "similarity"),
)
def q_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_pairs(_docs(spark, sf_dir), "doc_id", "text", k=3, threshold=0.5)


@register(
    "q_d3_minhash_lsh",
    oracle=_JACCARD_SQL,
    doc=(
        "MinHash(32)+LSH(16 bands×2) candidates, exact-Jaccard verified — "
        "must equal the exhaustive result (recall ≈ 1−3e-8 at j=0.8) while "
        "generating candidates from band-bucket collisions only (SURVEY N3)."
    ),
    tags=("dedup", "similarity", "lsh"),
    bench=True,
)
def q_d3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", k=3, threshold=0.5, n_hashes=32, rows_per_band=2
    )


@register(
    "q_d7_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE
        {_SHINGLES_CTE},
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        ),
        sym AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM sym) t
            UNION
            SELECT s.a, r.r FROM sym s JOIN reach r ON r.id = s.b
        )
        SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
        FROM reach GROUP BY id
    """,
    doc=(
        "Near-dup CLUSTER resolution: MinHash-LSH pairs (q_d3's edges) "
        "closed into connected components with a deterministic min-id "
        "label — the transitive-closure step a leakage-safe dedup/split "
        "needs (A~B, B~C ⇒ {A,B,C} one cluster even though A~C was never "
        "emitted). Spark side is iterative min-label propagation, one "
        "shuffle per round, O(cluster diameter) rounds "
        "(operators/components.py); oracle is a recursive-CTE reachability "
        "closure over the exhaustive exact-Jaccard pairs."
    ),
    tags=("dedup", "graph", "components"),
    order=("doc_id",),
)
def q_d7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.operators.components import connected_components

    pairs = D.minhash_lsh_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", k=3, threshold=0.5, n_hashes=32, rows_per_band=2
    )
    labels = connected_components(pairs.select("id_a", "id_b"))
    return labels.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@register(
    "q_d10_keep_best_canonical",
    oracle=f"""
        WITH RECURSIVE
        {_SHINGLES_CTE},
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        ),
        sym AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM sym) t
            UNION
            SELECT s.a, r.r FROM sym s JOIN reach r ON r.id = s.b
        ),
        labels AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        q AS (
            SELECT doc_id, CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        labeled AS (
            SELECT q.doc_id,
                   CAST(COALESCE(l.component, q.doc_id) AS BIGINT) AS cluster_id,
                   q.n_tokens
            FROM q LEFT JOIN labels l ON l.id = q.doc_id
        )
        SELECT doc_id, cluster_id, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_tokens DESC, doc_id) = 1
                   AS is_canonical
        FROM labeled
    """,
    doc=(
        "Canonical-document selection per near-dup cluster: instead of "
        "smallest-id-wins, keep the BEST representative (longest by "
        "whitespace token count, doc_id tiebreak) of each MinHash-LSH "
        "connected component — the keep-best policy production dedup "
        "pipelines apply so boilerplate-trimmed fragments don't shadow "
        "their fuller originals. Singletons are their own canonical. "
        "Every doc is emitted with its cluster id and the boolean, so "
        "the downstream filter is a trivial WHERE is_canonical. Scale: "
        "the cluster labels come from the banded-LSH + min-label "
        "propagation path (never all-pairs); the selection itself is one "
        "window over (cluster_id) — per-cluster state is O(1)."
    ),
    tags=("dedup", "curation", "graph"),
    order=("doc_id",),
)
def q_d10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.keep_best_canonical(_docs(spark, sf_dir), "doc_id", "text").select(
        "doc_id",
        F.col("_nd_cluster").cast("long").alias("cluster_id"),
        F.col("_nd_tokens").alias("n_tokens"),
        F.col("_nd_canonical").alias("is_canonical"),
    )


@register(
    "q_d4_simhash",
    oracle=f"""
        WITH tok AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents
            ) t
        ),
        h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('sim:' || tok), 1, 15)) AS BIGINT) AS h
            FROM tok
        ),
        votes AS (
            SELECT doc_id, r.b,
                   SUM(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
            FROM h, (SELECT unnest(range(60)) AS b) r
            GROUP BY doc_id, r.b
        ),
        sig AS (
            SELECT doc_id,
                   SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b)
                       ELSE CAST(0 AS BIGINT) END) AS simhash
            FROM votes GROUP BY doc_id
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc=(
        "SimHash near-dup pairs (Hamming ≤ 3 over 60-bit sign-aggregate "
        "signatures); Spark side joins on 4×15-bit pigeonhole bands, oracle "
        "brute-forces — identical pairs by construction (SURVEY N2/N3)."
    ),
    tags=("dedup", "similarity", "simhash"),
)
def q_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = D.simhash_signatures(_docs(spark, sf_dir), "doc_id", "text")
    pairs = D.simhash_pairs(sigs, max_hamming=3)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


@register(
    "q_d4b_simhash_wide",
    oracle=f"""
        WITH tok AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents
            ) t
        ),
        h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('sim:' || tok), 1, 15)) AS BIGINT) AS h1,
                   CAST(('0x' || substr(md5('simw:' || tok), 1, 15)) AS BIGINT) AS h2
            FROM tok
        ),
        votes AS (
            SELECT doc_id, r.b,
                   SUM(CASE WHEN (h1 >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v1,
                   SUM(CASE WHEN (h2 >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v2
            FROM h, (SELECT unnest(range(60)) AS b) r
            GROUP BY doc_id, r.b
        ),
        sig AS (
            SELECT doc_id,
                   SUM(CASE WHEN v1 > 0 THEN (CAST(1 AS BIGINT) << b)
                       ELSE CAST(0 AS BIGINT) END) AS h1,
                   SUM(CASE WHEN v2 > 0 THEN (CAST(1 AS BIGINT) << b)
                       ELSE CAST(0 AS BIGINT) END) AS h2
            FROM votes GROUP BY doc_id
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2))
                    AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3
    """,
    doc=(
        "Wide (120-bit) SimHash near-dup pairs: two independent 60-bit "
        "sign-aggregate halves, Hamming ≤ 3, Spark side joins on 4×30-bit "
        "pigeonhole bands. The corpus-GROWTH companion to q_d4: 15-bit "
        "bands carry an n²/2^15 raw-collision term that rep-collapse only "
        "cures under duplication (sf10 anchor, SCALE.md round 10); 30-bit "
        "bands divide it by 2^15 while keeping the same pigeonhole recall "
        "guarantee and int64-safe 60-bit halves on both engines. Oracle "
        "brute-forces the 120-bit Hamming join — identical pairs by "
        "construction."
    ),
    tags=("dedup", "similarity", "simhash"),
)
def q_d4b(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    s1 = D.simhash_signatures(docs, "doc_id", "text").withColumnRenamed(
        "simhash", "h1"
    )
    s2 = D.simhash_signatures(docs, "doc_id", "text", seed="simw").withColumnRenamed(
        "simhash", "h2"
    )
    pairs = D.simhash_wide_pairs(s1.join(s2, "doc_id"), max_hamming=3)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


@register(
    "q_x7_leakage_safe_split",
    oracle=f"""
        WITH RECURSIVE
        {_SHINGLES_CTE},
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        ),
        sym AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM sym) t
            UNION
            SELECT s.a, r.r FROM sym s JOIN reach r ON r.id = s.b
        ),
        clusters AS (
            SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
        ),
        keyed AS (
            SELECT d.doc_id,
                   COALESCE(c.cluster_id, d.doc_id) AS split_key
            FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
        )
        SELECT doc_id,
               CAST(split_key AS BIGINT) AS split_key,
               CASE WHEN CAST(('0x' || substr(md5('split:' || split_key), 1, 4))
                         AS BIGINT) < 58982 THEN 'train'
                    WHEN CAST(('0x' || substr(md5('split:' || split_key), 1, 4))
                         AS BIGINT) < 62259 THEN 'valid'
                    ELSE 'test' END AS split
        FROM keyed
    """,
    doc=(
        "Leakage-safe deterministic train/valid/test split (90/5/5): the "
        "split key is the near-dup CLUSTER label (q_d7), so near-duplicate "
        "documents always land in the same split; membership comes from "
        "md5('split:'||key) buckets — seedless, partition-independent, "
        "rerun-stable (operators/sampling.py). Oracle replays cluster "
        "closure + the md5 bucket math exactly."
    ),
    tags=("sampling", "split", "dedup", "north-star"),
    order=("doc_id",),
)
def q_x7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.operators.components import connected_components
    from receiptanalyzerpipeline_spark.operators.sampling import deterministic_split

    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5, n_hashes=32, rows_per_band=2
    )
    clusters = connected_components(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    keyed = docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("split_key"),
    )
    return keyed.select(
        "doc_id",
        "split_key",
        deterministic_split(
            F.col("split_key"), {"train": 0.90, "valid": 0.05, "test": 0.05}
        ).alias("split"),
    )


@register(
    "q_x8_pii_redaction",
    oracle=r"""
        WITH seeded AS (
            -- Deterministically inject PII into every 7th document so the
            -- redaction path is exercised on known positives AND the
            -- untouched majority.
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' contact: user' || doc_id
                             || '@example.com or +1 (555) 010-'
                             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        ELSE text END AS txt
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(txt,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(txt,
                   '\+?[0-9][0-9 ()\-]{6,}[0-9]')) AS BIGINT) AS n_phones,
               regexp_replace(
                   regexp_replace(txt,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\+?[0-9][0-9 ()\-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        FROM seeded
    """,
    doc=(
        "PII scrubbing (training-data hygiene, SURVEY N6 family): emails "
        "then phone-shaped digit runs replaced by typed placeholders, one "
        "JVM-side regexp_replace chain (no UDF). Regex subset is valid in "
        "both Java regex and RE2 so the oracle replays the exact "
        "transformation; counts verified alongside the redacted text."
    ),
    tags=("text", "pii", "redaction"),
    order=("doc_id",),
)
def q_x8(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    return (
        docs.select("doc_id", injected.alias("txt"))
        .select(
            "doc_id",
            T.count_emails(F.col("txt")).alias("n_emails"),
            T.count_phones(F.col("txt")).alias("n_phones"),
            T.redact_pii(F.col("txt")).alias("redacted"),
        )
    )


@register(
    "q_d5_cosine_neardup",
    oracle="""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 4) >= 0.45
    """,
    doc="Embedding-cosine near-dup pairs ≥ 0.45 (SURVEY N2-for-embeddings).",
    tags=("dedup", "similarity", "embedding"),
)
def q_d5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_neardup_pairs(_emb(spark, sf_dir), threshold=0.45)


# Similarity search ----------------------------------------------------------


@register(
    "q_n2_embedding_topk",
    oracle="""
        WITH probes AS (
            SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10
        ),
        pairs AS (
            SELECT p.q_id, e.vec_id,
                   round(list_cosine_similarity(CAST(p.q_emb AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])), 4) AS sim
            FROM probes p JOIN embeddings e ON e.vec_id != p.q_id
        ),
        ranked AS (
            SELECT q_id, vec_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
            FROM pairs
        )
        SELECT q_id, vec_id, sim, rank FROM ranked WHERE rank <= 5
    """,
    doc=(
        "Brute-force cosine top-5 for 10 fixed probes — broadcast probes, "
        "rank by rounded sim with vec_id tiebreak (SURVEY Q-N2/N4)."
    ),
    tags=("similarity", "embedding", "topk"),
    bench=True,
)
def q_n2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    topk = S.brute_force_topk(emb, probes, k=5)
    return topk.withColumn("rank", F.col("rank").cast("long"))


@register(
    "q_x5_ann_lsh",
    oracle="""
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        planes AS (SELECT unnest(range(16)) AS p),
        dots AS (
            -- Exact replay of operators/similarity.py hyperplane math:
            -- sign(p,d) = parity of md5('p:d')'s first hex digit, and the
            -- dot product accumulates LEFT-TO-RIGHT from 0.0 (list_reduce
            -- with a prepended 0.0) — the same IEEE operation sequence as
            -- Spark's F.aggregate, so bucket signs match bit-for-bit.
            SELECT e.vec_id, p.p,
                   list_reduce(
                       list_prepend(0.0, list_transform(range(len(e.v)),
                           i -> e.v[i+1] *
                                CASE WHEN substr(md5(p.p || ':' || i), 1, 1)
                                          IN ('1','3','5','7','9','b','d','f')
                                     THEN 1.0 ELSE -1.0 END)),
                       (acc, x) -> acc + x) AS dot
            FROM emb e, planes p
        ),
        sigs AS (
            SELECT vec_id, p // 4 AS tbl,
                   SUM(CASE WHEN dot > 0 THEN 1 << (p % 4) ELSE 0 END) AS bucket
            FROM dots GROUP BY 1, 2
        ),
        cands AS (
            SELECT DISTINCT q.vec_id AS q_id, c.vec_id
            FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket
            WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
        ),
        scored AS (
            SELECT cd.q_id, cd.vec_id,
                   round(list_cosine_similarity(eq.v, ec.v), 4) AS sim
            FROM cands cd
            JOIN emb eq ON eq.vec_id = cd.q_id
            JOIN emb ec ON ec.vec_id = cd.vec_id
        ),
        ranked AS (
            SELECT q_id, vec_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, vec_id) AS rank
            FROM scored
        )
        SELECT q_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 3
    """,
    doc=(
        "LSH-bucketed ANN top-3, fully hash-checked: hyperplane signs from "
        "md5 parity (seedless, engine-portable), candidates = corpus "
        "vectors sharing a (table, bucket) key with the probe, exact "
        "cosine rerank inside the candidate set (SURVEY N4 scale path — "
        "the plan is a bucket EQUI-join, not a nested loop; "
        "test_plan_shapes pins it). The oracle replays the identical "
        "bucket assignment in DuckDB SQL, so the driver verifies the "
        "whole pruned pipeline, not just row counts; recall vs brute "
        "force is pinned in tests/test_llmops.py."
    ),
    tags=("similarity", "embedding", "ann"),
    bench=True,
    order=("q_id", "rank"),
)
def q_x5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    topk = S.lsh_bucketed_topk(emb, probes, k=3)
    return topk.withColumn("rank", F.col("rank").cast("long"))


@register(
    "q_x6_ann_ivf",
    oracle="""
        WITH probes AS (
            SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10
        ),
        pairs AS (
            SELECT p.q_id, e.vec_id,
                   round(list_cosine_similarity(CAST(p.q_emb AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])), 4) AS sim
            FROM probes p JOIN embeddings e ON e.vec_id != p.q_id
        ),
        ranked AS (
            SELECT q_id, vec_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
            FROM pairs
        )
        SELECT q_id, vec_id, sim, rank, TRUE AS ivf_recall_ok
        FROM ranked WHERE rank <= 3
    """,
    doc=(
        "IVF approximate top-3 with the invariant-as-data oracle pattern "
        "(same trick as q_a5_sketch_accuracy): k-means cells fitted from a "
        "deterministic ORDER BY id LIMIT sample, corpus assigned map-side "
        "(Arrow pandas UDF), probes search their nprobe=4 nearest cells of "
        "16 — ~25% of the corpus scored (SURVEY N4 scale path, the "
        "centroid-partitioned sibling of q_x5). The emitted rows are the "
        "EXACT brute-force top-3 (DuckDB replays them bit-for-bit, as in "
        "q_n2) plus an ivf_recall_ok boolean computed Spark-side: overall "
        "recall@3 of the IVF search vs the exact top-3 across all 10 "
        "probes must be ≥ 0.6 (measured 0.90–0.97 at sf0.001/0.01/0.1; the "
        "fit is bit-reproducible so the boolean is stable across runs and "
        "partition counts). If IVF pruning ever degrades, the literal TRUE "
        "in the oracle hash-mismatches — the driver gate now checks what "
        "three rounds of 'no_oracle' rows could not."
    ),
    tags=("similarity", "embedding", "ann", "ivf"),
    order=("q_id", "rank"),
)
def q_x6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.operators import ivf

    emb = _emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    centroids = ivf.fit_centroids(emb, n_cells=16)
    approx = ivf.ivf_topk(emb, probes, centroids, k=3, nprobe=4)
    exact = S.brute_force_topk(emb, probes, k=3).withColumn(
        "rank", F.col("rank").cast("long")
    )
    # 10 probes × k=3 → 30 exact pairs at every SF; ≥18 hits = recall ≥ 0.6.
    hits = exact.join(
        approx.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi"
    ).agg((F.count(F.lit(1)) >= F.lit(18)).alias("ivf_recall_ok"))
    return exact.crossJoin(F.broadcast(hits))


@register(
    "q_d6_crossmodal_neardup",
    oracle=_JACCARD_SQL.replace(
        "        SELECT id_a, id_b,",
        """        SELECT id_a, id_b,
               round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                            CAST(eb.embedding AS DOUBLE[])), 4)
                   AS cos_sim,""",
    ).replace(
        "        JOIN sizes sb ON sb.doc_id = id_b",
        """        JOIN sizes sb ON sb.doc_id = id_b
        JOIN embeddings ea ON ea.vec_id = id_a
        JOIN embeddings eb ON eb.vec_id = id_b""",
    ),
    doc=(
        "Cross-modal near-dup audit: exact 3-gram Jaccard pairs (>=0.5) "
        "joined to both docs' embeddings (doc_id = vec_id) with their "
        "cosine similarity — the 'text says dup, does the embedding "
        "agree?' check an LLM-data pipeline runs before dropping docs. "
        "Candidates come from the shingle inverted index; the embedding "
        "join touches only candidate pairs, not the corpus square."
    ),
    tags=("dedup", "similarity", "embedding", "cross-modal"),
)
def q_d6(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = D.jaccard_pairs(_docs(spark, sf_dir), "doc_id", "text", k=3, threshold=0.5)
    emb = _emb(spark, sf_dir)
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            S.cosine(F.col("emb_a"), F.col("emb_b")).alias("cos_sim"),
            "jaccard",
        )
    )


@register(
    "q_d8_semantic_dedup",
    oracle="""
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        planes AS (SELECT unnest(range(4)) AS p),
        dots AS (
            -- Same md5-parity hyperplane replay as q_x5 (left-to-right
            -- IEEE accumulation from 0.0 = Spark's F.aggregate order).
            SELECT e.vec_id, p.p,
                   list_reduce(
                       list_prepend(0.0, list_transform(range(len(e.v)),
                           i -> e.v[i+1] *
                                CASE WHEN substr(md5(p.p || ':' || i), 1, 1)
                                          IN ('1','3','5','7','9','b','d','f')
                                     THEN 1.0 ELSE -1.0 END)),
                       (acc, x) -> acc + x) AS dot
            FROM emb e, planes p
        ),
        sigs AS (
            SELECT vec_id, SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS bucket
            FROM dots GROUP BY 1
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            JOIN emb ea ON ea.vec_id = a.vec_id
            JOIN emb eb ON eb.vec_id = b.vec_id
            WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.4
        )
        SELECT s.vec_id, CAST(s.bucket AS BIGINT) AS bucket,
               (p.id_b IS NULL) AS kept
        FROM sigs s
        LEFT JOIN (SELECT DISTINCT id_b FROM pairs) p ON p.id_b = s.vec_id
    """,
    doc=(
        "SemDeDup-shaped semantic dedup: hyperplane-LSH buckets (md5-"
        "parity planes, replayable) restrict the candidate set, exact "
        "cosine >= 0.4 inside each bucket marks near-duplicate edges, and "
        "every vector with a smaller-id neighbor is dropped (kept = "
        "minimum-id representative, pairwise-deterministic). The bucket "
        "join prunes 93.5% of the pair square at sf0.01; recall vs the "
        "exhaustive q_d5 is the documented ANN tradeoff. Scale shape: "
        "bucket equi-join, never corpus x corpus."
    ),
    tags=("dedup", "similarity", "embedding", "semdedup"),
    order=("vec_id",),
)
def q_d8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SemDeDup bucket self-join runs over DISTINCT vectors and the
    # drop set expands back (the dedup._collapse_reps move): with only 16
    # buckets, raw bucket collisions are quadratic in corpus size — the
    # sf1 replica's 50 k vectors (4 992 distinct) would build ~78 M
    # array-carrying rows. The member-level rule "x is dropped iff some
    # y < x shares its bucket at cos >= 0.4" expands exactly: for a
    # qualifying rep pair (ra < rb), members of rb's group above ra and
    # members of ra's group above rb are dropped (min(group) < x ⟺ some
    # member < x); within a group, everything above the min is dropped
    # when the self-cosine qualifies (identical vectors — the guard only
    # matters for degenerate zero vectors, where cos is NULL and the
    # original join dropped nothing).
    from pyspark.sql.window import Window as W

    emb = _emb(spark, sf_dir)
    w = W.partitionBy("embedding")
    tagged = emb.withColumn("_rep", F.min("vec_id").over(w))
    members = tagged.select(
        F.col("_rep").alias("_rid"), F.col("vec_id").alias("_mem")
    )
    reps = tagged.where(F.col("vec_id") == F.col("_rep")).select(
        "vec_id", "embedding"
    )
    rsigs = reps.select(
        "vec_id", "embedding", S.lsh_bucket(F.col("embedding"), 4).cast("long").alias("bucket")
    )
    ra = rsigs.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"), F.col("bucket")
    )
    rb = rsigs.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"), F.col("bucket")
    )
    qual = (
        ra.join(rb, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .where(S.cosine(F.col("emb_a"), F.col("emb_b")) >= 0.4)
        .select("id_a", "id_b")
    )
    rules = qual.select(
        F.col("id_b").alias("_grp"), F.col("id_a").alias("_floor")
    ).unionAll(
        qual.select(F.col("id_a").alias("_grp"), F.col("id_b").alias("_floor"))
    )
    cross = (
        members.join(rules, members["_rid"] == rules["_grp"])
        .where(F.col("_mem") > F.col("_floor"))
        .select(F.col("_mem").alias("id_b"))
    )
    self_ok = reps.where(
        S.cosine(F.col("embedding"), F.col("embedding")) >= 0.4
    ).select(F.col("vec_id").alias("_sid"))
    intra = (
        members.join(self_ok, members["_rid"] == self_ok["_sid"])
        .where(F.col("_mem") > F.col("_rid"))
        .select(F.col("_mem").alias("id_b"))
    )
    dropped = cross.unionAll(intra).distinct().withColumn("is_dropped", F.lit(True))
    sigs = emb.select(
        "vec_id", S.lsh_bucket(F.col("embedding"), 4).cast("long").alias("bucket")
    )
    return (
        sigs.join(dropped, sigs["vec_id"] == dropped["id_b"], "left")
        .select(
            "vec_id",
            "bucket",
            F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("kept"),
        )
    )


@register(
    "q_d9_incremental_dedup",
    oracle=f"""
        WITH batch AS (
            SELECT doc_id + 20000 AS doc_id,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) < '6'
                        THEN text || ' incremental batch note'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) < 'b'
                        THEN text
                        ELSE 'completely fresh synthetic document number '
                             || CAST(doc_id AS VARCHAR) END AS text
            FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1')
        ),
        corpus_fp AS (SELECT DISTINCT md5(lower(trim(text))) AS fp FROM documents),
        bt AS (SELECT doc_id, {DUCK_TOKENS} t FROM batch),
        bsh AS (
            SELECT doc_id,
                   list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  for i in range(1, len(t) - 1)]) s
            FROM bt WHERE len(t) >= 3
        ),
        be AS (SELECT doc_id, unnest(s) AS sh FROM bsh),
        bsizes AS (SELECT doc_id, len(s) AS n FROM bsh),
        ct AS (SELECT doc_id, {DUCK_TOKENS} t FROM documents),
        csh AS (
            SELECT doc_id,
                   list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  for i in range(1, len(t) - 1)]) s
            FROM ct WHERE len(t) >= 3
        ),
        ce AS (SELECT doc_id, unnest(s) AS sh FROM csh),
        csizes AS (SELECT doc_id, len(s) AS n FROM csh),
        inter AS (
            SELECT b.doc_id bid, c.doc_id cid, COUNT(*) i
            FROM be b JOIN ce c ON b.sh = c.sh GROUP BY 1, 2
        ),
        near AS (
            SELECT DISTINCT bid FROM inter
            JOIN bsizes sb ON sb.doc_id = bid
            JOIN csizes sc ON sc.doc_id = cid
            WHERE CAST(i AS DOUBLE) / (sb.n + sc.n - i) >= 0.5
        )
        SELECT b.doc_id,
               CASE WHEN md5(lower(trim(b.text))) IN (SELECT fp FROM corpus_fp)
                         THEN 'exact_dup'
                    WHEN b.doc_id IN (SELECT bid FROM near) THEN 'near_dup'
                    ELSE 'new' END AS status
        FROM batch b
    """,
    doc=(
        "Incremental corpus dedup: a deterministic md5-sampled 'incoming "
        "batch' (half of it mutated by an appended suffix) is classified "
        "against the EXISTING corpus as exact_dup / near_dup / new — the "
        "continuous-corpus-building shape, where new data dedups against "
        "the accumulated index rather than within one snapshot. Asymmetric "
        "joins only: fingerprint semi-join + batch×corpus shingle "
        "inverted-index join (operators/dedup.py:incremental_dedup_status)."
    ),
    tags=("dedup", "curation", "incremental"),
    order=("doc_id",),
)
def q_d9(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    h = F.md5(F.col("doc_id").cast("string"))
    batch = (
        docs.where(F.substring(h, 1, 1).isin("0", "1"))
        .select(
            (F.col("doc_id") + 20000).alias("doc_id"),
            F.when(
                F.substring(h, 2, 1) < "6",
                F.concat(F.col("text"), F.lit(" incremental batch note")),
            )
            .when(F.substring(h, 2, 1) < "b", F.col("text"))
            .otherwise(
                F.concat(
                    F.lit("completely fresh synthetic document number "),
                    F.col("doc_id").cast("string"),
                )
            )
            .alias("text"),
        )
    )
    return D.incremental_dedup_status(batch, docs, "doc_id", "text")


def _pagerank_oracle() -> str:
    """Unrolled 3-iteration PageRank SQL over the Jaccard near-dup edges —
    recursive CTEs can't aggregate in the recursive term, so the loop is
    unrolled. Contributions are quantized with floor((pr/outdeg)*1e12)
    to exact BIGINT pico-values (floor of a double is exact in every
    engine, unlike double→DECIMAL casts, whose last-place rounding
    differs between Spark and DuckDB) and in-flows sum exactly as
    integers, replaying the operator bit-for-bit."""
    iters = ""
    prev = "pr0"
    for k in (1, 2, 3):
        iters += f"""
        c{k} AS (
            SELECT e.d, CAST(FLOOR((p.pr / dg.outdeg) * 1e12) AS BIGINT) c
            FROM edges e JOIN {prev} p ON p.node = e.s JOIN deg dg ON dg.s = e.s
        ),
        s{k} AS (SELECT d, CAST(SUM(c) AS BIGINT) sc FROM c{k} GROUP BY d),
        pr{k} AS (
            SELECT n.node,
                   CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
                   + CAST(0.85 AS DOUBLE)
                     * (CAST(COALESCE(s.sc, 0) AS DOUBLE) / 1e12) pr
            FROM nodes n LEFT JOIN s{k} s ON s.d = n.node
        ),"""
        prev = f"pr{k}"
    return f"""
        WITH {_SHINGLES_CTE},
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT id_a, id_b FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        ),
        edges AS (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs
        ),
        deg AS (SELECT s, COUNT(*) AS outdeg FROM edges GROUP BY s),
        nodes AS (SELECT DISTINCT s AS node FROM edges),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        pr0 AS (
            SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) pr
            FROM nodes
        ),{iters}
        dummy AS (SELECT 1)
        SELECT node AS doc_id, CAST(pr AS DOUBLE) AS pagerank
        FROM pr3
    """


@register(
    "q_g1_pagerank",
    oracle=_pagerank_oracle(),
    doc=(
        "Deterministic PageRank (3 iterations, d=0.85) over the symmetric "
        "Jaccard near-dup graph — ranks the most-connected member of each "
        "dup cluster (canonical-document vote). Iterative float algorithms "
        "are normally engine- and partition-order-dependent; here each "
        "node's contribution is quantized to an exact BIGINT pico-value "
        "(floor((pr/outdeg)*1e12) — floor is exact in every engine, "
        "unlike double→DECIMAL casts whose last-place rounding differs "
        "between Spark and DuckDB) and in-flows sum exactly as integers, "
        "so every iteration is bit-reproducible and the DuckDB oracle "
        "replays the unrolled loop verbatim "
        "(operators/components.py:pagerank). One shuffle per iteration."
    ),
    tags=("graph", "pagerank", "iterative", "dedup"),
    order=("doc_id",),
)
def q_g1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.operators.components import pagerank

    pairs = D.jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", k=3, threshold=0.5
    ).select("id_a", "id_b")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    return (
        pagerank(edges, iterations=3)
        .select(F.col("node").alias("doc_id"), "pagerank")
    )


@register(
    "q_x20_embedding_outliers",
    oracle="""
        WITH emb AS (
            SELECT vec_id, label,
                   [CAST(x AS DOUBLE) for x in embedding] AS v
            FROM embeddings
        ),
        q AS (
            SELECT vec_id, label,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS qv
            FROM embeddings
        ),
        pd AS (SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS s FROM q GROUP BY 1, 2),
        n AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
        cent AS (
            SELECT pd.label,
                   list((CAST(s AS DOUBLE) / 1e6) / n.n ORDER BY dim) AS c
            FROM pd JOIN n USING (label) GROUP BY pd.label, n.n
        ),
        scored AS (
            SELECT e.vec_id, e.label,
                   list_reduce(
                       list_prepend(0.0, [ (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])
                                           for i in range(1, len(e.v) + 1)]),
                       (acc, x) -> acc + x) AS dist2
            FROM emb e JOIN cent c ON c.label = e.label
        ),
        ranked AS (
            SELECT CAST(label AS BIGINT) AS label, vec_id, dist2,
                   ROW_NUMBER() OVER (PARTITION BY label
                                      ORDER BY dist2 DESC, vec_id) AS rk
            FROM scored
        )
        SELECT label, vec_id, dist2, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 5
    """,
    doc=(
        "Embedding-space outlier detection (prototype-distance quality "
        "filter): per-label centroids, squared L2 distance of every "
        "vector to its label centroid, top-5 farthest per label — the "
        "embedding-side sibling of the rule-based quality pass (mislabeled"
        "/noisy examples sit far from their class prototype). Cross-engine "
        "exactness: per-dimension sums are quantized to BIGINT micro-"
        "values with floor(x*1e6) (floor is exact; float->double widening "
        "is exact), summed as integers, de-quantized with one fixed IEEE "
        "expression; distances fold left-to-right from 0.0 on both "
        "engines. Distributed shape: posexplode is map-side, centroid agg "
        "is (label, dim) keyed — 640 rows regardless of corpus size — "
        "and broadcasts back; one window for the top-5."
    ),
    tags=("similarity", "embedding", "quality"),
    order=("label", "rk"),
)
def q_x20(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    v = S.as_double(F.col("embedding"))
    q = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "x"),
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * F.lit(1e6)).alias("qv"),
    )
    pd = q.groupBy("label", "dim").agg(F.sum("qv").alias("s"))
    n = emb.groupBy("label").agg(F.count("*").alias("n"))
    cd = (F.col("s").cast("double") / F.lit(1e6)) / F.col("n")
    cent = (
        pd.join(n, "label")
        .select("label", "dim", cd.alias("cd"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "cd"))),
                lambda s: s["cd"],
            ).alias("c")
        )
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        F.col("label").cast("long").alias("label"),
        "vec_id",
        F.aggregate(
            F.zip_with(v, F.col("c"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("dist2"),
    )
    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
    )


@register(
    "q_x21_hard_negatives",
    oracle="""
        WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        -- auto-scaled plane count: ceil(log2(n/32)) clamped to [4,16]
        -- (operators/similarity.py auto_n_planes; keeps bucket occupancy
        -- ~constant as the corpus grows)
        np AS (
            SELECT CASE WHEN COUNT(*) <= 32 THEN 4
                        ELSE GREATEST(4, LEAST(16,
                             CAST(ceil(log2(COUNT(*) / 32.0)) AS INT)))
                   END AS np
            FROM emb
        ),
        planes AS (SELECT unnest(range(4 * (SELECT np FROM np))) AS p),
        dots AS (
            SELECT e.vec_id, p.p,
                   list_reduce(
                       list_prepend(0.0, list_transform(range(len(e.v)),
                           i -> e.v[i+1] *
                                CASE WHEN substr(md5(p.p || ':' || i), 1, 1)
                                          IN ('1','3','5','7','9','b','d','f')
                                     THEN 1.0 ELSE -1.0 END)),
                       (acc, x) -> acc + x) AS dot
            FROM emb e, planes p
        ),
        sigs AS (
            SELECT vec_id, p // (SELECT np FROM np) AS tbl,
                   SUM(CASE WHEN dot > 0
                            THEN 1 << (p % (SELECT np FROM np)) ELSE 0 END) AS bucket
            FROM dots GROUP BY 1, 2
        ),
        -- negative-side occupancy cap: ≤128 candidates per (table,bucket),
        -- deterministic md5 order (anchors stay uncapped)
        capped AS (
            SELECT vec_id, tbl, bucket FROM (
                SELECT vec_id, tbl, bucket,
                       ROW_NUMBER() OVER (
                           PARTITION BY tbl, bucket
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS occ
                FROM sigs)
            WHERE occ <= 128
        ),
        cands AS (
            SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS neg_id
            FROM sigs a
            JOIN capped b ON a.tbl = b.tbl AND a.bucket = b.bucket
            JOIN emb ea ON ea.vec_id = a.vec_id
            JOIN emb eb ON eb.vec_id = b.vec_id
            WHERE ea.label <> eb.label
        ),
        scored AS (
            SELECT cd.anchor_id, cd.neg_id,
                   round(list_cosine_similarity(ea.v, eb.v), 4) AS sim
            FROM cands cd
            JOIN emb ea ON ea.vec_id = cd.anchor_id
            JOIN emb eb ON eb.vec_id = cd.neg_id
        ),
        ranked AS (
            SELECT anchor_id, neg_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY anchor_id
                                      ORDER BY sim DESC, neg_id) AS rank
            FROM scored
        )
        SELECT anchor_id, neg_id, sim, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 3
    """,
    doc=(
        "Contrastive hard-negative mining: per anchor, the top-3 most-"
        "similar DIFFERENT-label vectors among its LSH bucket-mates — the "
        "look-alike pairs an embedding model must push apart, mined with "
        "the same (table, bucket) equi-join as the ANN search (no "
        "all-pairs loop; operators/similarity.py:hard_negative_pairs). "
        "The oracle replays the md5-parity hyperplane buckets, the "
        "auto-scaled plane count (ceil(log2(n/32)), bucket occupancy "
        "~constant at any corpus size), the 128-per-bucket deterministic "
        "negative cap, and the 4-decimal cosine — the full linear-growth "
        "pipeline is hash-verified."
    ),
    tags=("similarity", "embedding", "contrastive"),
    order=("anchor_id", "rank"),
)
def q_x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = S.hard_negative_pairs(_emb(spark, sf_dir), k=3)
    return pairs.withColumn("rank", F.col("rank").cast("long"))


def _kmeans_ctes(k: int = 8, iters: int = 2, dims: int = 64) -> str:
    """Unrolled engine-portable Lloyd iterations (shared WITH-body; the
    final SELECT comes from the caller — q_x22 reads the assignment,
    q_x27 continues into the IVF probe search). Same determinism toolkit
    as q_g1/q_x20: md5-ranked seeding, left-fold double distances,
    floor(x*1e6) BIGINT pico-sums for centroid updates — every step is
    exact or a fixed IEEE expression, so DuckDB replays the clustering
    bit-for-bit."""
    body = f"""
        WITH emb AS (
            SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
            FROM embeddings
        ),
        seeds AS (
            SELECT vec_id, ROW_NUMBER() OVER (
                ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id
            ) - 1 AS cid
            FROM embeddings
        ),
        cent0 AS (
            SELECT s.cid, e.v AS c FROM seeds s JOIN emb e USING (vec_id)
            WHERE s.cid < {k}
        )"""
    prev = "cent0"
    for it in range(1, iters + 1):
        body += f""",
        d{it} AS (
            SELECT e.vec_id, c.cid,
                   list_reduce(
                       list_prepend(0.0, [ (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])
                                           for i in range(1, {dims} + 1)]),
                       (acc, x) -> acc + x) AS dist2
            FROM emb e CROSS JOIN {prev} c
        ),
        a{it} AS (
            SELECT vec_id, cid, dist2 FROM (
                SELECT vec_id, cid, dist2, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY dist2, cid) AS rn
                FROM d{it}
            ) WHERE rn = 1
        ),
        q{it} AS (
            SELECT a.cid, generate_subscripts(e.v, 1) AS dim,
                   CAST(FLOOR(unnest(e.v) * 1e6) AS BIGINT) AS qv
            FROM a{it} a JOIN emb e USING (vec_id)
        ),
        n{it} AS (SELECT cid, COUNT(*) AS n FROM a{it} GROUP BY cid),
        cent{it} AS (
            SELECT p.cid, list((CAST(s AS DOUBLE) / 1e6) / n.n ORDER BY dim) AS c
            FROM (SELECT cid, dim, CAST(SUM(qv) AS BIGINT) AS s
                  FROM q{it} GROUP BY 1, 2) p
            JOIN n{it} n USING (cid)
            GROUP BY p.cid, n.n
        )"""
        prev = f"cent{it}"
    return body


def _kmeans_oracle(k: int = 8, iters: int = 2, dims: int = 64) -> str:
    return (
        _kmeans_ctes(k, iters, dims)
        + f"""
        SELECT vec_id, CAST(cid AS BIGINT) AS cluster, dist2
        FROM a{iters}
    """
    )


@register(
    "q_x22_kmeans_portable",
    oracle=_kmeans_oracle(),
    doc=(
        "Engine-portable k-means (k=8, 2 Lloyd iterations): seeding by "
        "md5 rank (seedless, replayable), assignment by left-folded exact-"
        "order L2 distances with (dist2, cid) tie-breaking, centroid "
        "updates from floor(x*1e6) BIGINT pico-sums — the same quantized-"
        "integer toolkit as the PageRank and centroid-outlier ops, applied "
        "to the canonical iterative-ML algorithm. Every step is exact "
        "integer math or one fixed IEEE expression, so the DuckDB oracle "
        "replays the full clustering bit-for-bit: iterative ML is hash-"
        "checkable, not rows-only. Distributed shape per iteration: one "
        "k-row broadcast cross (assignment), one (cid, dim)-keyed "
        "aggregate (k x dims rows regardless of corpus), no driver "
        "collect; the scaled sibling with learned MLlib centroids is "
        "q_x6's IVF."
    ),
    tags=("similarity", "embedding", "clustering", "iterative"),
    order=("vec_id",),
)
def q_x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.operators.kmeans import portable_kmeans

    emb = _emb(spark, sf_dir).select("vec_id", S.as_double(F.col("embedding")).alias("v"))
    _, asg = portable_kmeans(emb, k=8, iters=2)
    return asg.select(
        "vec_id", F.col("cid").cast("long").alias("cluster"), "dist2"
    )


@register(
    "q_x26_embed_documents",
    oracle="""
        SELECT doc_id, CAST(i AS BIGINT) AS dim,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || i), 1, 8))
                    AS BIGINT) / 4294967296.0 * 2 - 1 AS val
        FROM documents, LATERAL unnest(range(0, 16)) AS u(i)
    """,
    doc=(
        "The embedding-generation boundary, hash-checked end to end: an "
        "Arrow-batched mapInPandas embedder (operators/embedder.py, the "
        "OCR boundary's design applied to the embed-the-corpus stage) "
        "with the deterministic md5-feature stub backend — every batch "
        "boundary, schema coercion, and float construction is verified "
        "against the DuckDB replay, which a real model backend could "
        "never offer. Map-side only: no shuffle, parallelism = input "
        "partitions. int/2^32 division, *2, -1 are all exactly-rounded "
        "IEEE ops on identical operands — bit-identical across engines."
    ),
    tags=("embedding", "udf", "multimodal"),
    order=("doc_id", "dim"),
)
def q_x26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.operators.embedder import (
        StubEmbeddingBackend,
        embed_documents,
    )

    emb = embed_documents(_docs(spark, sf_dir), StubEmbeddingBackend(dim=16))
    # Exploded to primitive rows: the driver contract's proven surface is
    # BIGINT/DOUBLE scalars — array cells stringify differently between
    # the engines' pandas fetch paths (numpy ndarray vs Python list).
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "doc_id", F.col("dim").cast("long").alias("dim"), "val"
    )


def _ivf_portable_oracle() -> str:
    """q_x27: continue the k-means CTEs into the IVF probe search —
    probes rank centroids, search their nprobe=3 nearest cells, exact
    cosine rerank inside the candidate set."""
    return (
        _kmeans_ctes(8, 2, 64)
        + """,
        probes AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id < 10),
        pc AS (
            SELECT p.q_id, c.cid,
                   list_reduce(
                       list_prepend(0.0, [ (p.qv[i] - c.c[i]) * (p.qv[i] - c.c[i])
                                           for i in range(1, 65)]),
                       (acc, x) -> acc + x) AS dist2
            FROM probes p CROSS JOIN cent2 c
        ),
        cells AS (
            SELECT q_id, cid FROM (
                SELECT q_id, cid, ROW_NUMBER() OVER (
                    PARTITION BY q_id ORDER BY dist2, cid) AS rn
                FROM pc
            ) WHERE rn <= 3
        ),
        cands AS (
            SELECT cl.q_id, a.vec_id
            FROM cells cl JOIN a2 a ON a.cid = cl.cid
            WHERE a.vec_id <> cl.q_id
        ),
        scored AS (
            SELECT cd.q_id, cd.vec_id,
                   round(list_cosine_similarity(eq.v, ec.v), 4) AS sim
            FROM cands cd
            JOIN emb eq ON eq.vec_id = cd.q_id
            JOIN emb ec ON ec.vec_id = cd.vec_id
        ),
        ranked AS (
            SELECT q_id, vec_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, vec_id) AS rank
            FROM scored
        )
        SELECT q_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 3
    """
    )


@register(
    "q_x27_ivf_portable",
    oracle=_ivf_portable_oracle(),
    doc=(
        "IVF ANN search, fully hash-checked: cells come from the "
        "engine-portable k-means (q_x22's operator), probes rank the 8 "
        "centroids and search their nprobe=3 nearest cells, exact "
        "4-decimal cosine reranks inside the candidate set. This "
        "upgrades the IVF family from rows-only (q_x6's MLlib/numpy-"
        "fitted variant) to a full DuckDB replay of fit + assign + "
        "probe + rerank — the complete centroid-partitioned ANN "
        "pipeline is deterministic across engines. Plan: centroids "
        "broadcast for assignment and probe ranking; candidates come "
        "from the cell equi-join (cells × assignment), never a corpus "
        "nested loop."
    ),
    tags=("similarity", "embedding", "ann", "ivf", "iterative"),
    order=("q_id", "rank"),
)
def q_x27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.operators.kmeans import portable_kmeans

    emb = _emb(spark, sf_dir).select(
        "vec_id", S.as_double(F.col("embedding")).alias("v")
    )
    cent, asg = portable_kmeans(emb, k=8, iters=2)
    probes = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    pc = probes.crossJoin(F.broadcast(cent)).select(
        "q_id",
        "cid",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("c"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("dist2"),
    )
    wq = Window.partitionBy("q_id").orderBy("dist2", "cid")
    cells = (
        pc.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= 3)
        .select("q_id", "cid")
    )
    cands = (
        cells.join(asg.select("vec_id", "cid"), "cid")
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    eq = emb.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    ec = emb.select("vec_id", F.col("v").alias("cv"))
    scored = (
        cands.join(eq, "q_id")
        .join(ec, "vec_id")
        .select(
            "q_id", "vec_id", S.cosine(F.col("qv"), F.col("cv")).alias("sim")
        )
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= 3)
    )


def _pq_oracle(
    m: int = 8,
    ks: int = 16,
    iters: int = 1,
    dims: int = 64,
    shortlist: int = 50,
    top_k: int = 5,
) -> str:
    """q_x30: product quantization replayed end to end — m per-block
    k-means codebooks (same unrolled-Lloyd toolkit as _kmeans_ctes, with
    per-block 'pq{b}:' seed salts), codes = final per-block assignments,
    ADC shortlisting as floor(d2·1e9) BIGINT nano-units summed per (probe,
    vector), then an exact L2 rerank of the shortlist. Every stage is
    exact integer math or one fixed IEEE fold."""
    w = dims // m
    body = """
        WITH emb AS (
            SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
            FROM embeddings
        )"""
    for b in range(m):
        lo, hi = b * w + 1, (b + 1) * w
        body += f""",
        emb{b} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM emb),
        seeds{b} AS (
            SELECT vec_id, ROW_NUMBER() OVER (
                ORDER BY md5('pq{b}:' || CAST(vec_id AS VARCHAR)), vec_id
            ) - 1 AS cid
            FROM embeddings
        ),
        cent{b}_0 AS (
            SELECT s.cid, e.v AS c FROM seeds{b} s JOIN emb{b} e USING (vec_id)
            WHERE s.cid < {ks}
        )"""
        prev = f"cent{b}_0"
        for it in range(1, iters + 1):
            body += f""",
        d{b}_{it} AS (
            SELECT e.vec_id, c.cid,
                   list_reduce(
                       list_prepend(0.0, [ (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])
                                           for i in range(1, {w} + 1)]),
                       (acc, x) -> acc + x) AS dist2
            FROM emb{b} e CROSS JOIN {prev} c
        ),
        a{b}_{it} AS (
            SELECT vec_id, cid, dist2 FROM (
                SELECT vec_id, cid, dist2, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY dist2, cid) AS rn
                FROM d{b}_{it}
            ) WHERE rn = 1
        ),
        q{b}_{it} AS (
            SELECT a.cid, generate_subscripts(e.v, 1) AS dim,
                   CAST(FLOOR(unnest(e.v) * 1e6) AS BIGINT) AS qv
            FROM a{b}_{it} a JOIN emb{b} e USING (vec_id)
        ),
        n{b}_{it} AS (SELECT cid, COUNT(*) AS n FROM a{b}_{it} GROUP BY cid),
        cent{b}_{it} AS (
            SELECT p.cid, list((CAST(s AS DOUBLE) / 1e6) / n.n ORDER BY dim) AS c
            FROM (SELECT cid, dim, CAST(SUM(qv) AS BIGINT) AS s
                  FROM q{b}_{it} GROUP BY 1, 2) p
            JOIN n{b}_{it} n USING (cid)
            GROUP BY p.cid, n.n
        )"""
            prev = f"cent{b}_{it}"
    codes_union = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS block, cid AS code FROM a{b}_{iters}" for b in range(m)
    )
    cbs_union = " UNION ALL ".join(
        f"SELECT {b} AS block, cid, c FROM cent{b}_{iters}" for b in range(m)
    )
    pb_union = " UNION ALL ".join(
        f"SELECT q_id, {b} AS block, v[{b * w + 1}:{(b + 1) * w}] AS qv FROM probes"
        for b in range(m)
    )
    body += f""",
        codes AS ({codes_union}),
        cbs AS ({cbs_union}),
        probes AS (SELECT vec_id AS q_id, v FROM emb WHERE vec_id < 10),
        pb AS ({pb_union}),
        pbd AS (
            SELECT p.q_id, p.block, c.cid AS code,
                   CAST(FLOOR(list_reduce(
                       list_prepend(0.0, [ (p.qv[i] - c.c[i]) * (p.qv[i] - c.c[i])
                                           for i in range(1, {w} + 1)]),
                       (acc, x) -> acc + x) * 1e9) AS BIGINT) AS d2n
            FROM pb p JOIN cbs c ON c.block = p.block
        ),
        scored AS (
            SELECT d.q_id, cd.vec_id, CAST(SUM(d.d2n) AS BIGINT) AS qn
            FROM codes cd JOIN pbd d ON d.block = cd.block AND d.code = cd.code
            WHERE cd.vec_id <> d.q_id
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT q_id, vec_id, qn, ROW_NUMBER() OVER (
                PARTITION BY q_id ORDER BY qn, vec_id) AS rank
            FROM scored
        ),
        cand AS (SELECT q_id, vec_id FROM ranked WHERE rank <= {shortlist}),
        rer AS (
            SELECT c.q_id, c.vec_id,
                   list_reduce(
                       list_prepend(0.0, [ (eq.v[i] - ec.v[i]) * (eq.v[i] - ec.v[i])
                                           for i in range(1, {dims} + 1)]),
                       (acc, x) -> acc + x) AS qdist
            FROM cand c
            JOIN emb eq ON eq.vec_id = c.q_id
            JOIN emb ec ON ec.vec_id = c.vec_id
        ),
        rranked AS (
            SELECT q_id, vec_id, qdist, ROW_NUMBER() OVER (
                PARTITION BY q_id ORDER BY qdist, vec_id) AS rank
            FROM rer
        )
        SELECT q_id, vec_id, qdist, CAST(rank AS BIGINT) AS rank
        FROM rranked WHERE rank <= {top_k}
    """
    return body


@register(
    "q_x30_pq_ann",
    oracle=_pq_oracle(),
    doc=(
        "Product-quantization ANN, fully hash-checked: 8 per-block "
        "codebooks (16 codes each) from the engine-portable k-means with "
        "per-block seed salts, vectors stored as 8 half-byte codes, "
        "asymmetric-distance shortlisting — probes build one broadcast "
        "(block, code) distance table in floor(d2*1e9) BIGINT nano-units "
        "and each corpus vector's approximate distance is an exact "
        "integer SUM of 8 lookups — then an exact L2 rerank of the "
        "50-candidate shortlist (measured: 74% of the exact top-5 "
        "survives a 10%-of-corpus shortlist on these near-uniform "
        "synthetic vectors; recall@5 vs brute force is pinned in "
        "test_properties). Completes the ANN triptych: q_n2 exact brute "
        "force, q_x5/q_x27 candidate pruning (LSH/IVF), q_x30 "
        "storage/scan compression (PQ). Plan: codebooks and the probe "
        "table broadcast (KB-sized at any corpus); the corpus side is "
        "one (block, code) equi-join + one BIGINT-sum aggregate; the "
        "rerank touches only P*shortlist candidate vectors."
    ),
    tags=("similarity", "embedding", "ann", "pq", "iterative"),
    bench=True,
    order=("q_id", "rank"),
)
def q_x30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.operators.pq import (
        pq_fit_encode,
        pq_search_rerank,
    )

    emb = _emb(spark, sf_dir).select(
        "vec_id", S.as_double(F.col("embedding")).alias("v")
    )
    codebooks, codes = pq_fit_encode(emb, dims=64, m=8, ks=16, iters=1)
    probes = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    return pq_search_rerank(
        probes, codebooks, codes, emb, dims=64, m=8, shortlist=50, top_k=5
    )


def _bpe_oracle(n_merges: int = 8) -> str:
    """q_x31: the BPE training loop replayed with unrolled CTEs — exact
    BIGINT pair counts, ORDER BY count DESC, pair LIMIT 1 top pair, and
    the same leftmost-first non-overlapping replace() merge (operator
    docstring documents the cross-engine semantics probe)."""
    body = r"""
        WITH words AS (
            -- same whitespace class as operators/textanalysis.WS_RE
            -- (Java \s spelled out so RE2 matches it exactly)
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
                SELECT unnest(string_split_regex(lower(text),
                                                 '[ \t\n\x0B\f\r]+')) AS w
                FROM documents
            ) WHERE w <> '' GROUP BY w
        ),
        sym0 AS (
            SELECT regexp_replace(w, '(.)', '\1 ', 'g') || '</w>' AS sym, freq
            FROM words
        )"""
    for i in range(1, n_merges + 1):
        body += f""",
        p{i} AS (
            SELECT unnest(list_transform(range(1, len(t)),
                                         j -> t[j] || ' ' || t[j+1])) AS p, freq
            FROM (SELECT string_split(sym, ' ') AS t, freq FROM sym{i - 1})
        ),
        t{i} AS (
            SELECT p, CAST(SUM(freq) AS BIGINT) AS pair_count
            FROM p{i} GROUP BY p ORDER BY pair_count DESC, p LIMIT 1
        ),
        sym{i} AS (
            -- double-space encoding (operators/bpe.py _merge): ' L  R '
            -- consumes one space from each shared gap, so adjacent
            -- occurrences all merge in one pass (Sennrich semantics)
            SELECT trim(replace(
                     replace('  ' || replace(s.sym, ' ', '  ') || '  ',
                             ' ' || replace(t.p, ' ', '  ') || ' ',
                             ' ' || replace(t.p, ' ', '') || ' '),
                     '  ', ' ')) AS sym,
                   s.freq
            FROM sym{i - 1} s CROSS JOIN t{i} t
        )"""
    merges = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, replace(p, ' ', '') AS merged,"
        f" pair_count FROM t{i}"
        for i in range(1, n_merges + 1)
    )
    return body + f" SELECT * FROM ({merges})"


@register(
    "q_x31_bpe_train",
    oracle=_bpe_oracle(),
    doc=(
        "Distributed BPE tokenizer training (Sennrich 2016), fully "
        "hash-checked: 8 merge iterations over the word-frequency table. "
        "The corpus is scanned once (explode + map-side-combined word "
        "count); every iteration after that is a VOCABULARY-sized pair "
        "aggregate + orderBy/limit(1) top pair + a map-side merge rewrite "
        "under a 1-row broadcast — the shuffle never carries corpus rows, "
        "and vocabulary grows sub-linearly with the corpus (Heaps' law). "
        "All counts are exact BIGINT, ties break on the pair string, and "
        "the merge is non-overlapping leftmost-first replace() over a "
        "double-space symbol encoding (so separator-sharing adjacent "
        "occurrences all merge — exact Sennrich greedy semantics, see "
        "operators/bpe.py _merge) — replace() scan semantics are "
        "identical in both engines, so the DuckDB oracle replays the "
        "whole training loop bit-for-bit with unrolled CTEs (the same "
        "pattern as the portable k-means / PQ codebooks)."
    ),
    tags=("text", "tokenizer", "curation", "iterative"),
    order=("step",),
)
def q_x31(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.operators.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), text_col="text", n_merges=8)


# --- BM25 ranked retrieval (q_x28) --------------------------------------
#
# Fixed keyword queries over the documents table (two terms each, drawn
# from the synthetic vocabulary). Scores follow BM25's shape with the
# log removed from the IDF: idf_odds = (N - df + 0.5)/(df + 0.5) is the
# Robertson odds ratio BEFORE the log — monotone in the usual idf, and a
# pure IEEE division of identical operands, where ln() is not guaranteed
# correctly rounded across libms (q_n3 precedent). Per-term scores are
# floor-quantized to integer nano-units so the per-document SUM is an
# exact BIGINT aggregation — order-independent across partitions and
# engines (the PageRank pico-fold precedent).
_BM25_QUERIES = (
    (0, "hash"), (0, "join"),
    (1, "window"), (1, "agg"),
    (2, "table"), (2, "scan"),
    (3, "data"), (3, "column"),
    (4, "fast"), (4, "filter"),
    (5, "stream"), (5, "batch"),
    (6, "query"), (6, "merge"),
    (7, "row"), (7, "vector"),
)
_BM25_K1, _BM25_B, _BM25_1MB = 1.2, 0.75, 0.25
_BM25_NANO = 1000000000.0


def _bm25_ctes() -> str:
    """Shared oracle CTE chain ending at per_doc(qid, doc_id, n_terms,
    score_nano) — used verbatim by q_x28 (BM25 top-5) and q_x32 (hybrid
    RRF fusion) so the two replays can never drift apart."""
    values = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)
    return f"""
        WITH qt(qid, term) AS (VALUES {values}),
        toks AS (
            SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents
        ),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        stats AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
            FROM dl
        ),
        tf AS (
            SELECT t.doc_id, t.tok AS term, COUNT(*) AS tf
            FROM toks t JOIN (SELECT DISTINCT term FROM qt) q ON t.tok = q.term
            GROUP BY t.doc_id, t.tok
        ),
        df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        scored AS (
            SELECT tf.term, tf.doc_id,
                   CAST(floor(
                       (
                           (CAST(stats.n_docs - df.df AS DOUBLE) + 0.5)
                           / (CAST(df.df AS DOUBLE) + 0.5)
                           * (
                               CAST(tf.tf AS DOUBLE)
                               / (
                                   CAST(tf.tf AS DOUBLE)
                                   + {_BM25_K1} * ({_BM25_1MB}
                                       + {_BM25_B} * CAST(dl.dl AS DOUBLE) / stats.avgdl)
                               )
                           )
                       ) * {_BM25_NANO}
                   ) AS BIGINT) AS nano
            FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
        ),
        per_doc AS (
            SELECT qt.qid, s.doc_id, COUNT(*) AS n_terms, SUM(s.nano) AS score_nano
            FROM scored s JOIN qt ON s.term = qt.term
            GROUP BY qt.qid, s.doc_id
        )"""



def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, doc_id, n_terms, score_nano): BM25 partial scores for the
    fixed keyword queries — the shared engine behind q_x28 (top-5) and
    q_x32 (hybrid RRF). Scale shape: broadcast query-term semi-join
    prunes the token stream BEFORE the tf shuffle."""
    docs = _docs(spark, sf_dir)
    qt = spark.createDataFrame(list(_BM25_QUERIES), "qid long, term string")
    toks = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
    )
    terms = qt.select("term").distinct()
    tf = (
        toks.join(F.broadcast(terms), toks.tok == terms.term)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            F.floor(
                (
                    ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
                    / (F.col("df").cast("double") + F.lit(0.5))
                    * (
                        F.col("tf").cast("double")
                        / (
                            F.col("tf").cast("double")
                            + F.lit(_BM25_K1)
                            * (
                                F.lit(_BM25_1MB)
                                + F.lit(_BM25_B)
                                * F.col("dl").cast("double")
                                / F.col("avgdl")
                            )
                        )
                    )
                )
                * F.lit(_BM25_NANO)
            ).alias("nano"),
        )
    )
    return (
        scored.join(F.broadcast(qt), "term")
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("n_terms"), F.sum("nano").alias("score_nano"))
    )


@register(
    "q_x28_bm25_retrieval",
    oracle=_bm25_ctes() + f""",
        ranked AS (
            SELECT qid, doc_id, CAST(n_terms AS BIGINT) AS n_terms, score_nano,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY score_nano DESC, doc_id) AS rk
            FROM per_doc
        )
        SELECT CAST(qid AS BIGINT) AS qid, doc_id, n_terms,
               CAST(score_nano AS DOUBLE) / {_BM25_NANO} AS score,
               CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 5
    """,
    doc=(
        "BM25 ranked retrieval: top-5 documents for 8 fixed two-term "
        "keyword queries (k1=1.2, b=0.75) — the search primitive behind "
        "topical curation and eval-set mining. Log-free Robertson IDF "
        "odds and nano-quantized integer score sums keep every step "
        "bit-deterministic across engines (see module comment). Scale "
        "design: the token stream is filtered by a BROADCAST semi-join "
        "on the query-term list BEFORE the tf shuffle, so shuffle volume "
        "is O(matching tokens), not O(corpus tokens); df and the "
        "corpus stats are one-row/10-row broadcasts; ranking shuffles "
        "only (qid, doc) partial scores. At 100 TB this is the standard "
        "term-at-a-time scatter-gather — no posting list materializes "
        "outside the pruned term set."
    ),
    tags=("text", "retrieval", "ranking", "topk"),
    bench=True,
    order=("qid", "rk"),
)
def q_x28(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _bm25_per_doc(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.desc("score_nano"), "doc_id")
    return (
        per_doc.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .select(
            "qid",
            "doc_id",
            "n_terms",
            (F.col("score_nano").cast("double") / F.lit(_BM25_NANO)).alias("score"),
            "rk",
        )
    )


# --- Hybrid retrieval: BM25 + dense fused with Reciprocal Rank Fusion ---

RRF_K = 60  # the canonical RRF constant (Cormack et al. 2009)
RRF_MICRO = 1000000.0  # micro-quantized 1/(K+rank) -> exact BIGINT sums


@register(
    "q_x32_hybrid_rrf",
    oracle=_bm25_ctes() + f""",
        sparse_rk AS (
            SELECT qid, doc_id, rk_s FROM (
                SELECT qid, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY score_nano DESC, doc_id) AS rk_s
                FROM per_doc
            ) WHERE rk_s <= 50
        ),
        dense_pairs AS (
            SELECT p.vec_id AS qid, e.vec_id AS doc_id,
                   round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])), 4) AS sim
            FROM embeddings p JOIN embeddings e ON e.vec_id != p.vec_id
            WHERE p.vec_id < 8
        ),
        dense_rk AS (
            SELECT qid, doc_id, rk_d FROM (
                SELECT qid, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY sim DESC, doc_id) AS rk_d
                FROM dense_pairs
            ) WHERE rk_d <= 50
        ),
        fused AS (
            SELECT COALESCE(s.qid, d.qid) AS qid,
                   COALESCE(s.doc_id, d.doc_id) AS doc_id,
                   CAST(COALESCE(FLOOR({RRF_MICRO} / ({RRF_K} + s.rk_s)), 0)
                        + COALESCE(FLOOR({RRF_MICRO} / ({RRF_K} + d.rk_d)), 0)
                        AS BIGINT) AS rrf_micro,
                   CASE WHEN s.doc_id IS NOT NULL AND d.doc_id IS NOT NULL THEN 'both'
                        WHEN s.doc_id IS NOT NULL THEN 'sparse'
                        ELSE 'dense' END AS src
            FROM sparse_rk s FULL OUTER JOIN dense_rk d
                 ON s.qid = d.qid AND s.doc_id = d.doc_id
        )
        SELECT * FROM (
            SELECT CAST(qid AS BIGINT) AS qid, doc_id,
                   CAST(rrf_micro AS DOUBLE) / {RRF_MICRO} AS rrf, src,
                   CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY rrf_micro DESC, doc_id)
                        AS BIGINT) AS rank
            FROM fused
        ) WHERE rank <= 10
    """,
    doc=(
        "Hybrid retrieval: BM25 keyword ranking and dense query-by-example "
        "cosine ranking (query qid's own corpus embedding as the probe — "
        "vec_id aligns with doc_id) fused with Reciprocal Rank Fusion "
        "(score = sum of 1/(60+rank) over the two retrievers, Cormack "
        "2009) — the standard production shape for RAG/eval-set retrieval "
        "where neither sparse nor dense alone is robust. Determinism: RRF "
        "contributions are micro-quantized with FLOOR so fused scores are "
        "exact BIGINT sums; both input rankings use the engine-proven "
        "rank keys (nano-quantized BM25, 4-decimal-rounded cosine, doc_id "
        "tiebreaks). Scale: the sparse side inherits q_x28's broadcast "
        "term-pruned scatter-gather; the dense side is the brute-force "
        "baseline by declaration (swap in q_x5 LSH / q_x6 IVF / q_x30 PQ "
        "shortlists for the 100 TB path — RRF only needs ranks, so any "
        "candidate generator drops in); the fusion itself is a "
        "(qid, doc_id) full-outer join of two top-50 lists — "
        "8 x 50-row inputs, trivially bounded."
    ),
    tags=("retrieval", "similarity", "hybrid", "llm"),
    bench=True,
    order=("qid", "rank"),
)
def q_x32(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _bm25_per_doc(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.desc("score_nano"), "doc_id")
    sparse_rk = (
        per_doc.withColumn("rk_s", F.row_number().over(w))
        .where(F.col("rk_s") <= 50)
        .select("qid", "doc_id", "rk_s")
    )
    emb = _emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    dense_rk = S.brute_force_topk(emb, probes, k=50).select(
        F.col("q_id").alias("qid"),
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("rk_d"),
    )
    fused = sparse_rk.join(dense_rk, ["qid", "doc_id"], "full_outer").select(
        "qid",
        "doc_id",
        (
            F.coalesce(F.floor(F.lit(RRF_MICRO) / (F.lit(RRF_K) + F.col("rk_s"))), F.lit(0))
            + F.coalesce(F.floor(F.lit(RRF_MICRO) / (F.lit(RRF_K) + F.col("rk_d"))), F.lit(0))
        )
        .cast("long")
        .alias("rrf_micro"),
        F.when(F.col("rk_s").isNotNull() & F.col("rk_d").isNotNull(), F.lit("both"))
        .when(F.col("rk_s").isNotNull(), F.lit("sparse"))
        .otherwise(F.lit("dense"))
        .alias("src"),
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("rrf_micro"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= 10)
        .select(
            F.col("qid").cast("long").alias("qid"),
            "doc_id",
            (F.col("rrf_micro").cast("double") / F.lit(RRF_MICRO)).alias("rrf"),
            "src",
            "rank",
        )
    )


# --- Token-budget mixture allocator (q_x33) -----------------------------

# Mixture weights: a few named heavy sources, the rest share the
# remainder evenly. Written once; both engines evaluate the same CASE.
_BUDGET_FRACTION = 0.3  # B = floor(0.3 * corpus tokens)
_W_SQL = """CASE source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.1
                 WHEN 'src2' THEN 0.05 ELSE 0.65 / 17.0 END"""


@register(
    "q_x33_budget_allocator",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tok
            FROM documents
        ),
        per_src AS (
            SELECT source, CAST(SUM(n_tok) AS BIGINT) AS t_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM toks GROUP BY source
        ),
        total AS (SELECT CAST(SUM(t_tokens) AS BIGINT) AS t FROM per_src),
        alloc AS (
            SELECT source, t_tokens, n_docs,
                   CAST(FLOOR(FLOOR({_BUDGET_FRACTION} * total.t)
                              * ({_W_SQL})) AS BIGINT) AS target
            FROM per_src, total
        ),
        bounds AS (
            SELECT source, t_tokens, n_docs, target,
                   CAST(CASE WHEN target >= t_tokens THEN 65536
                        ELSE FLOOR(CAST(target AS DOUBLE)
                                   / CAST(t_tokens AS DOUBLE) * 65536)
                   END AS BIGINT) AS bound
            FROM alloc
        ),
        kept AS (
            SELECT t.source,
                   CAST(COUNT(*) AS BIGINT) AS kept_docs,
                   CAST(SUM(t.n_tok) AS BIGINT) AS kept_tokens
            FROM toks t JOIN bounds b USING (source)
            WHERE CAST(('0x' || substr(md5('budget:' || CAST(t.doc_id AS VARCHAR)),
                                       1, 4)) AS BIGINT) < b.bound
            GROUP BY t.source
        )
        SELECT b.source, b.t_tokens, b.target, b.bound,
               COALESCE(k.kept_docs, 0) AS kept_docs,
               COALESCE(k.kept_tokens, 0) AS kept_tokens,
               b.target >= b.t_tokens AS exhausted
        FROM bounds b LEFT JOIN kept k USING (source)
    """,
    doc=(
        "Token-budget mixture allocator: given a corpus token budget "
        "(30% of total here) and per-source mixture weights, compute each "
        "source's token target, convert it to a deterministic md5-bucket "
        "keep bound (the engine's standard 16-bit hash-sampling "
        "primitive), apply it, and report the per-source audit row "
        "(available vs target vs actually-kept tokens, exhausted flag) — "
        "the 'give me ~1B tokens at these weights' front end a "
        "pretraining-data pipeline runs before export, complementing "
        "q_x10 (fixed rates) and q_x29 (temperature). Exhausted sources "
        "(target >= available) keep everything and under-deliver; the "
        "audit row exposes the shortfall instead of silently reweighting. "
        "Every output is an exact BIGINT (token sums, bounds) so the "
        "oracle hash pins the whole allocation. Scale: one token-count "
        "scan with map-side combine, a source-cardinality aggregate, a "
        "1-row total broadcast, and a map-side keep filter under a "
        "k-source broadcast — no corpus-sized shuffle anywhere."
    ),
    tags=("curation", "mixture", "llm"),
    order=("source",),
)
def q_x33(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        "source",
        T.token_count_ws(F.col("text")).cast("long").alias("n_tok"),
    )
    per_src = toks.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("t_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    total = per_src.agg(F.sum("t_tokens").cast("long").alias("t"))
    w = F.expr(_W_SQL)
    alloc = per_src.crossJoin(F.broadcast(total)).select(
        "source",
        "t_tokens",
        "n_docs",
        F.floor(F.floor(F.lit(_BUDGET_FRACTION) * F.col("t")) * w)
        .cast("long")
        .alias("target"),
    )
    bounds = alloc.select(
        "source",
        "t_tokens",
        "n_docs",
        "target",
        F.when(F.col("target") >= F.col("t_tokens"), F.lit(65536))
        .otherwise(
            F.floor(
                F.col("target").cast("double")
                / F.col("t_tokens").cast("double")
                * 65536
            )
        )
        .cast("long")
        .alias("bound"),
    )
    from receiptanalyzerpipeline_spark.operators.sampling import hash_bucket

    kept = (
        toks.join(F.broadcast(bounds.select("source", "bound")), "source")
        .where(hash_bucket(F.col("doc_id"), salt="budget") < F.col("bound"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("kept_docs"),
            F.sum("n_tok").cast("long").alias("kept_tokens"),
        )
    )
    return (
        bounds.join(kept, "source", "left")
        .select(
            "source",
            "t_tokens",
            "target",
            "bound",
            F.coalesce(F.col("kept_docs"), F.lit(0)).cast("long").alias("kept_docs"),
            F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("long").alias("kept_tokens"),
            (F.col("target") >= F.col("t_tokens")).alias("exhausted"),
        )
    )


# --- Retrieval evaluation: recall@k + MRR against label gold (q_x34) ----


@register(
    "q_x34_retrieval_metrics",
    oracle="""
        WITH emb AS (SELECT vec_id, embedding, label FROM embeddings),
        probes AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
                   FROM emb WHERE vec_id < 8),
        topk AS (
            SELECT qid, vec_id, qlabel, lab, rank FROM (
                SELECT p.qid, e.vec_id, p.qlabel, e.label AS lab,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.qid
                           ORDER BY round(list_cosine_similarity(
                               CAST(p.qv AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])), 4) DESC,
                           e.vec_id) AS rank
                FROM probes p JOIN emb e ON e.vec_id != p.qid
            ) WHERE rank <= 10
        ),
        rel AS (
            SELECT p.qid,
                   CAST((SELECT COUNT(*) FROM emb e
                         WHERE e.label = p.qlabel AND e.vec_id != p.qid)
                        AS BIGINT) AS n_relevant
            FROM probes p
        ),
        hits AS (
            SELECT qid,
                   CAST(SUM(CASE WHEN lab = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                   MIN(CASE WHEN lab = qlabel THEN rank END) AS first_rank
            FROM topk GROUP BY qid
        )
        SELECT CAST(r.qid AS BIGINT) AS qid, r.n_relevant,
               COALESCE(h.hits, 0) AS hits,
               CAST(CASE WHEN r.n_relevant = 0 THEN 0
                    ELSE FLOOR(1000000.0 * COALESCE(h.hits, 0) / r.n_relevant)
               END AS DOUBLE) / 1000000.0 AS recall,
               CAST(CASE WHEN h.first_rank IS NULL THEN 0
                    ELSE FLOOR(1000000.0 / h.first_rank)
               END AS DOUBLE) / 1000000.0 AS mrr
        FROM rel r LEFT JOIN hits h ON r.qid = h.qid
    """,
    doc=(
        "Retrieval evaluation: recall@10 and MRR@10 for the dense "
        "retriever against label gold (a retrieved doc is relevant iff "
        "it shares the probe's label; the probe itself is excluded from "
        "both sides) — the measurement half of the retrieval family "
        "(q_n2/q_x5/q_x6/q_x30 retrieve, q_x32 fuses, THIS grades). Both "
        "metrics are micro-quantized with FLOOR before the final double "
        "division, so the oracle hash pins them exactly. Scale: gold "
        "counts are one label-cardinality aggregate; the top-k side is "
        "the brute-force baseline by declaration (any ANN candidate "
        "generator drops in; on a real eval you run it over the FIXED "
        "eval-query set, so the probe side never grows with the corpus)."
    ),
    tags=("retrieval", "evaluation", "llm"),
    order=("qid",),
)
def q_x34(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("qlabel"),
    )
    topk = (
        S.brute_force_topk(emb, probes.select("q_id", "q_emb"), k=10)
        .join(F.broadcast(probes.select("q_id", "qlabel")), "q_id")
        .join(emb.select("vec_id", F.col("label").alias("lab")), "vec_id")
    )
    hits = topk.groupBy("q_id").agg(
        F.sum(F.when(F.col("lab") == F.col("qlabel"), 1).otherwise(0))
        .cast("long")
        .alias("hits"),
        F.min(F.when(F.col("lab") == F.col("qlabel"), F.col("rank"))).alias(
            "first_rank"
        ),
    )
    label_counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    rel = probes.join(
        F.broadcast(label_counts), probes.qlabel == label_counts.label
    ).select(
        "q_id", (F.col("n_label") - 1).cast("long").alias("n_relevant")
    )
    return (
        rel.join(hits, "q_id", "left")
        .select(
            F.col("q_id").cast("long").alias("qid"),
            "n_relevant",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            (
                F.when(F.col("n_relevant") == 0, F.lit(0.0)).otherwise(
                    F.floor(
                        1000000.0
                        * F.coalesce(F.col("hits"), F.lit(0))
                        / F.col("n_relevant")
                    )
                )
                / 1000000.0
            ).alias("recall"),
            (
                F.when(F.col("first_rank").isNull(), F.lit(0.0)).otherwise(
                    F.floor(1000000.0 / F.col("first_rank"))
                )
                / 1000000.0
            ).alias("mrr"),
        )
    )


# --- ANN auto-parameters: occupancy + recall-bound derivation (q_x35) ---

_AUTOPARAM_PLANES = (
    "CAST(GREATEST(4, LEAST(16, CEIL(ROUND(LOG2(n / 32.0), 6)))) AS BIGINT)"
)
_AUTOPARAM_CELLS = "CAST(GREATEST(4, LEAST(4096, CEIL(n / 256.0))) AS BIGINT)"
_AUTOPARAM_TABLES = (
    "CAST(GREATEST(1, LEAST(64, CEIL(ROUND(LN(0.1) / "
    "LN(1.0 - POWER(1.0 - ACOS(0.8) / PI(), n_planes)), 6)))) AS BIGINT)"
)


@register(
    "q_x35_ann_autoparams",
    oracle=f"""
        WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        d AS (SELECT n,
                     {_AUTOPARAM_PLANES} AS n_planes,
                     {_AUTOPARAM_CELLS} AS n_cells
              FROM c)
        SELECT n, n_planes, n_cells,
               {_AUTOPARAM_TABLES} AS n_tables,
               n_planes AS planes_py,
               {_AUTOPARAM_TABLES} AS tables_py,
               n_cells AS cells_py
        FROM d
    """,
    doc=(
        "ANN auto-parameter derivation, cross-engine pinned: n_planes "
        "(occupancy target 32, auto_n_planes), n_tables (random-"
        "hyperplane recall bound at target 0.9 / floor 0.8, "
        "lsh_recall_params), n_cells (IVF occupancy 256, auto_n_cells) — "
        "each computed twice: as SQL formulas over count(embeddings) in "
        "BOTH engines, and as literals from the PYTHON operators on the "
        "Spark side (planes_py/tables_py/cells_py; the oracle re-derives "
        "them from the same formulas). A hash match therefore proves the "
        "Python implementations equal the declared closed forms, and "
        "both engines agree — the parameter half of the recall harness "
        "(SCALE.md ANN recall table; scripts/ann_recall_scale.py). "
        "Transcendentals are ROUND(x, 6)-quantized before CEIL so an "
        "ulp of libm divergence cannot flip the integer."
    ),
    tags=("retrieval", "autotuning", "llm"),
)
def q_x35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from receiptanalyzerpipeline_spark.operators.ivf import auto_n_cells
    from receiptanalyzerpipeline_spark.operators.similarity import lsh_recall_params

    emb = _emb(spark, sf_dir)
    n = emb.count()  # bounded driver scalar (the auto_n_planes precedent)
    planes_py, tables_py = lsh_recall_params(n, recall_target=0.9, sim_floor=0.8)
    cells_py = auto_n_cells(n)
    d = emb.agg(F.count(F.lit(1)).alias("n")).selectExpr(
        "CAST(n AS BIGINT) AS n",
        f"{_AUTOPARAM_PLANES} AS n_planes",
        f"{_AUTOPARAM_CELLS} AS n_cells",
    )
    return d.selectExpr(
        "n",
        "n_planes",
        "n_cells",
        f"{_AUTOPARAM_TABLES} AS n_tables",
        f"CAST({planes_py} AS BIGINT) AS planes_py",
        f"CAST({tables_py} AS BIGINT) AS tables_py",
        f"CAST({cells_py} AS BIGINT) AS cells_py",
    )
