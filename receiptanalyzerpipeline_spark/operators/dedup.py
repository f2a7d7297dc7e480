"""Deduplication operators (SURVEY N1-N3), each with a 100 TB-shaped plan.

Generalizes the reference's only dedup mechanism — rename-to-perceptual-
hash collision (anarcpt/anarcptlib.py:155-159) — into the full family a
training-data pipeline needs:

    exact_dedup          hash-groupBy, deterministic survivor
    shingle/jaccard      exact n-gram Jaccard via shingle-inverted-index join
    minhash signatures   md5-based minhash + banded LSH candidate pruning
    simhash              64→60-bit sign-aggregate + pigeonhole-banded pairs

Scale posture:
- The Jaccard inverted-index join shuffles on *shingle*, never doc×doc.
- MinHash/LSH makes candidate generation O(near-dups), not O(n²): band
  buckets are the join key; exact Jaccard runs only on candidates.
- SimHash pairs join on 15-bit band equality: for Hamming ≤ 3 over a
  60-bit signature, the pigeonhole principle guarantees one of the 4
  bands matches exactly, so the banded join loses nothing.
- The hashes DECLARED in query results (exact-dedup fingerprints,
  simhash signatures via md5_hash60) derive from md5 — stable across
  engines, sessions, and languages, so oracles replay them bit-for-bit.
  MinHash signatures are the exception: they use Spark-native
  ``xxhash64`` (r10, ~30 ns vs ~1 µs per evaluation) and are ENGINE-
  INTERNAL — the declared contract is the exact-Jaccard-verified pair
  set, which is hash-family-independent. Persisted LSH state derived
  from them is stamped with MINHASH_FAMILY so a family change can never
  silently probe stale state (see streaming/neardup_stream.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from receiptanalyzerpipeline_spark.operators.textanalysis import (
    content_fingerprint,
    let_bound,
    token_count_ws,
    tokens,
)

# 15 hex chars = 60 bits: fits signed int64 positively in Spark AND DuckDB.
HASH_BITS = 60

# MinHash signature hash family, stamped into every persisted LSH state
# manifest (band buckets / signatures). Signatures from different
# families NEVER collide, so probing state written by another family
# would silently miss every near-dup against the pre-existing corpus —
# readers must refuse on mismatch (ADVICE r10). Bump this string
# whenever the signature expression changes
# (currently: min over xxhash64(seed i, shingle), i in 0..n_hashes-1).
MINHASH_FAMILY = "xxhash64-seeded-min-v2"


def md5_hash60(c: Column, seed: str | Column = "") -> Column:
    """Deterministic 60-bit hash of a string column (md5-derived)."""
    seeded = F.concat(F.lit(seed) if isinstance(seed, str) else seed, F.lit(":"), c)
    return F.conv(F.substring(F.md5(seeded), 1, 15), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one deterministic survivor (lowest id) per exact content.

    Hash-groupBy shape: shuffles on the content fingerprint, so skew equals
    duplicate multiplicity — AQE skew-join/agg handles pathological cases.
    """
    w = Window.partitionBy(content_fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


def word_shingles(c: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as array<string>.

    The token array is bound as a lambda VARIABLE (single-element outer
    transform) so the regex split runs ONCE per row. Referencing the
    tokens() expression tree directly inside the per-shingle lambda
    re-evaluates the whole split under interpreted HigherOrderFunction
    evaluation — once per generated shingle, O(tokens²) per doc (r10:
    5.5 s → sub-second for the 260 k shingles of the sf0.1 rep set; see
    OPTIMIZATION_r10.md). Element values are unchanged: identical
    slice/array_join/when expressions over the identical token array."""
    return let_bound(
        tokens(c),
        lambda toks: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
                lambda i: F.when(
                    F.size(toks) >= k, F.array_join(F.slice(toks, i + 1, k), " ")
                ),
            )
        ),
    )


def shingle_index(docs: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Inverted index (doc_id, shingle) — the join substrate for exact Jaccard."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    ).where(F.col("shingle").isNotNull())


def _collapse_reps(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate collapse: one REPRESENTATIVE (min id) per distinct
    text, plus the rep → member mapping.

    The production near-dup shape is exact-dedup FIRST: Jaccard (and any
    text hash) depends only on the text, so pair discovery over the
    distinct texts plus a mechanical expansion is result-identical to
    discovery over the raw corpus — while candidate mass scales with
    DISTINCT content, not duplication. On the round-6 sf1 replica
    (50 k docs, 4 992 distinct texts) this is the difference between a
    49 M-row candidate join that OOMs a 1 GB heap and an sf0.1-sized
    problem; at 100 TB, where crawl corpora are majority exact-dup, it
    is the only sane order of operations."""
    fp = F.md5(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("_mid"), F.col(text_col).alias("_mtext"), fp.alias("_fp")
    )
    w = Window.partitionBy("_fp")
    tagged = base.withColumn("_rep", F.min("_mid").over(w))
    members = tagged.select(F.col("_rep").alias("_rid"), F.col("_mid").alias("_mem"))
    reps = tagged.where(F.col("_mid") == F.col("_rep")).select(
        F.col("_mid").alias("doc_id"), F.col("_mtext").alias("_text")
    )
    return reps, members


def _expand_rep_pairs(
    rep_pairs: DataFrame, members: DataFrame, nonempty_reps: DataFrame
) -> DataFrame:
    """Expand representative-level (id_a, id_b, jaccard) pairs back to
    member-level pairs. Inter-group: every cross product of the two
    groups' members carries the reps' jaccard (identical texts ⇒
    identical shingle sets ⇒ identical value). Intra-group: identical
    non-empty texts have jaccard n/(n+n−n) = 1.0 EXACTLY (same double
    the exhaustive oracle computes); empty-shingle groups emit nothing,
    matching the inverted-index semantics (no shared shingle ⇒ absent).
    The two sets are disjoint (different vs identical md5), so the union
    introduces no duplicates."""
    ma = members.select(F.col("_rid").alias("id_a"), F.col("_mem").alias("_ma"))
    mb = members.select(F.col("_rid").alias("id_b"), F.col("_mem").alias("_mb"))
    inter = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "jaccard",
        )
    )
    g = members.join(
        nonempty_reps, members["_rid"] == nonempty_reps["_nid"]
    ).select("_rid", "_mem")
    intra = (
        g.select(F.col("_rid").alias("_r"), F.col("_mem").alias("id_a"))
        .join(g.select(F.col("_rid").alias("_r"), F.col("_mem").alias("id_b")), "_r")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return inter.unionByName(intra)


def jaccard_pairs(
    docs: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold via the LOSSLESS rarest-prefix
    inverted-index join (the SSJoin/PPJoin prefix-filtering principle —
    the Jaccard sibling of q_er2's edit-distance q-gram prefix filter).

    Round-6's plain shingle self-join shuffled Σ_shingle cnt² rows into
    the pair aggregation — on a clone-dense corpus that intermediate is
    quadratic in duplication and killed a 1 GB heap at sf1 in 80 s (the
    q_d2 OOM). Prefix filtering bounds it: order all shingles globally
    by (corpus frequency, shingle), and index each doc by only its first
    |x| − ⌈t·|x|⌉ + 1 shingles in that order. Any pair with
    Jaccard ≥ t shares ≥ ⌈t·|x|⌉ elements (|A∩B| ≥ t·|A∪B| ≥ t·|x| for
    BOTH sides), and two sorted sets whose prefixes are disjoint can
    share at most (prefix-complement) = ⌈t·|x|⌉ − 1 elements — so every
    qualifying pair collides on a prefix shingle and the filter drops
    nothing (the ε in the ceil keeps the prefix CONSERVATIVE when t·|x|
    lands on an exact float integer). Rare-first ordering keeps prefix
    buckets small: corpus-common shingles rank last and rarely enter
    any prefix, so candidate mass tracks true-match density.

    The verify is exact and one-row-per-candidate: each side's distinct
    shingle set rides along as an array, intersection via
    array_intersect — identical integers into the identical double
    division as the exhaustive oracle.

    Every join side here is corpus-proportional, so the strategy must
    be size-independent: Spark's post-shuffle size ESTIMATES can fall
    under autoBroadcastJoinThreshold while the true built size is far
    larger, and on a default 1 GB driver (the gate's shape) the
    broadcast build OOMs — caught by the sf1 sweep. merge = SMJ.

    Pair discovery runs over exact-duplicate REPRESENTATIVES and expands
    back to members (``_collapse_reps``) — result-identical, and
    candidate mass scales with distinct content, not duplication.
    """
    reps, members = _collapse_reps(docs, id_col, text_col)
    sh = F.filter(word_shingles(F.col("_text"), k), lambda x: x.isNotNull())
    arrs = reps.select("doc_id", sh.alias("sh")).hint("merge")
    idx = arrs.select("doc_id", F.explode("sh").alias("shingle"))
    freq = idx.groupBy("shingle").agg(F.count("*").alias("cnt")).hint("merge")
    pref = (
        idx.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("cnt", "shingle"))).alias("r"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"slice(r, 1, size(r) - ceil({threshold} * size(r) - 1e-9) + 1)"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.shingle").alias("shingle"))
    )
    a = pref.select(F.col("doc_id").alias("id_a"), "shingle")
    b = pref.select(F.col("doc_id").alias("id_b"), "shingle")
    cands = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = arrs.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = arrs.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = n_inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_inter)
    rep_pairs = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    nonempty = arrs.where(F.size("sh") > 0).select(F.col("doc_id").alias("_nid"))
    return _expand_rep_pairs(rep_pairs, members, nonempty).where(
        F.col("jaccard") >= threshold
    )


def minhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, k: int = 3, n_hashes: int = 32
) -> DataFrame:
    """(doc_id, sig array<bigint>[n_hashes]) — elementwise min over shingle
    hashes, one xxhash64 seed per hash function (MINHASH_FAMILY).

    Shape: explode shingles, evaluate the n_hashes seeded xxhash64 calls
    as flat codegen'd aggregate inputs, MIN per (doc, seed), re-assemble
    the array. Two r10 changes vs the original nested transform/reduce
    lambda form (see OPTIMIZATION_r10.md):

    - The lambda form ran through interpreted HigherOrderFunction
      evaluation and — being exchange-free — was re-evaluated once per
      side of the LSH band self-join. The aggregate's shuffle is
      canonically identical on both sides, so ReusedExchange computes
      signatures exactly once, inside whole-stage codegen.
    - The per-seed hash is xxhash64(seed, shingle) instead of the md5 →
      substring → conv(16,10) chain (~1 µs per evaluation, conv's string
      base conversion dominating; native xxhash64 is ~30 ns). The hash
      FAMILY is internal to the operator — the declared contract is that
      LSH-candidate + exact-Jaccard-verify equals the exhaustive
      Jaccard-≥-threshold result, which the oracle checks exhaustively —
      and recall-completeness of this family is verified at every driver
      SF (see OPTIMIZATION_r10.md) plus the property test
      test_minhash_candidates_cover_all_true_pairs.

    Empty/short/NULL-text docs (all-NULL shingle arrays): ``xxhash64``
    SKIPS null inputs rather than returning NULL, so every such doc's
    components are the seed-only hashes ``xxhash64(lit(i))`` — a single
    shared signature for all shingle-less docs, whose band collisions
    die in the exact-Jaccard verify (empty shingle sets ⇒ NULL jaccard),
    emitting no pairs. (ADVICE r10: a prior 2^62-sentinel ``coalesce``
    here was dead code — MIN never sees NULL — and is removed; the
    seed-only value is the real, and equally harmless, sentinel.
    ``tests/test_llmops.py::test_minhash_empty_doc_signature`` pins it.)

    Contract notes (ADVICE r10): output is one row per DISTINCT doc_id —
    duplicate ids collapse into one signature over the union of their
    shingles (all current callers pass unique ids: reps, deduped
    batches); and the aggregate introduces one shuffle on doc_id, which
    is exactly the exchange the LSH self-join reuses."""
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(word_shingles(F.col(text_col), k)).alias("_sh"),
    )
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("_sh"))).alias(f"_h{i}")
        for i in range(n_hashes)
    ]
    return (
        ex.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[F.col(f"_h{i}") for i in range(n_hashes)]).alias("sig"),
        )
    )


def minhash_lsh_candidates(
    sigs: DataFrame, n_hashes: int = 32, rows_per_band: int = 2
) -> DataFrame:
    """Candidate pairs from banded LSH: docs sharing ≥1 band bucket.

    rows_per_band=2 with 16 bands ⇒ a pair at Jaccard 0.8 is missed with
    probability (1−0.8²)¹⁶ ≈ 3e-8 — effectively total recall for real
    near-dups, at the cost of more candidates (all false positives are
    removed by the exact-Jaccard verify stage). The band bucket is the
    shuffle key: candidate generation is O(collisions), never O(n²).
    """
    n_bands = n_hashes // rows_per_band
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band).alias("vals"),
                ),
            )
        ).alias("bucket"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 32,
    rows_per_band: int = 2,
) -> DataFrame:
    """LSH-pruned near-dup pairs with *exact* Jaccard on the candidates.

    The scale path: signatures are map-side, candidates join on band
    buckets, and the exact verify touches ONE ROW PER CANDIDATE PAIR:
    each side's distinct shingle set rides along as an array and the
    intersection is a per-row ``array_intersect`` — no exploded
    per-shingle join. (The round-6 shape joined candidates against the
    exploded shingle index twice, materializing |candidates| × |doc
    shingles| intermediate rows — ~60 M at sf1, the dominant exchange in
    the 343 s sf1-sweep wall. Arrays cut the verify's shuffle volume by
    the shingle count per doc; Jaccard values are bit-identical — same
    integer intersection/union fed to the same double division.)

    Size-independent strategies for corpus-proportional sides (see
    jaccard_pairs): a mis-estimated auto-broadcast of the shingle side
    OOMs a default driver at sf1 — sf1-sweep finding, round 6.

    Like ``jaccard_pairs``, discovery runs over exact-duplicate
    REPRESENTATIVES and expands back (``_collapse_reps``): identical
    texts have identical signatures, so every band of every clone pair
    collides — the expansion reproduces exactly the pairs the raw-corpus
    LSH would have generated and verified, at distinct-content cost."""
    reps, members = _collapse_reps(docs, id_col, text_col)
    cands = minhash_lsh_candidates(
        minhash_signatures(reps, "doc_id", "_text", k, n_hashes), n_hashes, rows_per_band
    )
    sh = F.filter(
        word_shingles(F.col("_text"), k), lambda x: x.isNotNull()
    )
    arrs = reps.select("doc_id", sh.alias("sh")).hint("merge")
    sa = arrs.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = arrs.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - n_inter
    # Two shingle-LESS docs share the seed-only signature, so their band
    # collision reaches this verify with 0/0 — which ANSI mode RAISES
    # instead of NULLing (r11, caught by the empty-doc signature test).
    # Guard exactly like the streaming twin: NULL jaccard, pair dropped
    # by the threshold filter, same as the DuckDB oracle's 0/0 -> NULL.
    # (jaccard_pairs needs no guard: its candidates share a shingle, so
    # the union is always >= 1 there.)
    jaccard = F.when(union > 0, n_inter.cast("double") / union)
    rep_pairs = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    nonempty = arrs.where(F.size("sh") > 0).select(F.col("doc_id").alias("_nid"))
    return _expand_rep_pairs(rep_pairs, members, nonempty).where(
        F.col("jaccard") >= threshold
    )


def keep_best_canonical(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep-best canonical selection per MinHash-LSH near-dup cluster (the
    q_d10 policy, also ``curate --near-dedup``).

    Every row of ``docs`` comes back with three columns added:
    ``_nd_cluster`` (the connected component's min-id label; a singleton
    is its own cluster), ``_nd_tokens`` (whitespace token count) and
    ``_nd_canonical``, true for the cluster's longest document (smallest
    id on ties). The underscored names leave every caller column —
    ``id`` and ``component`` included — untouched. Scale: the labels come
    from banded LSH + min-label propagation (never all-pairs); the
    selection is one window over the cluster label."""
    from receiptanalyzerpipeline_spark.operators.components import connected_components

    pairs = minhash_lsh_jaccard_pairs(
        docs, id_col, text_col, k=3, threshold=0.5, n_hashes=32, rows_per_band=2
    )
    labels = connected_components(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("_nd_id"), F.col("component").alias("_nd_comp")
    )
    labeled = (
        docs.withColumn("_nd_tokens", token_count_ws(F.col(text_col)).cast("long"))
        .join(labels, F.col(id_col) == F.col("_nd_id"), "left")
        .withColumn("_nd_cluster", F.coalesce(F.col("_nd_comp"), F.col(id_col)))
        .drop("_nd_id", "_nd_comp")
    )
    w = Window.partitionBy("_nd_cluster").orderBy(F.desc("_nd_tokens"), F.col(id_col))
    return labeled.withColumn("_nd_canonical", F.row_number().over(w) == 1)


def simhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, seed: str = "sim"
) -> DataFrame:
    """(doc_id, simhash bigint): per-bit majority vote over distinct-token
    60-bit hashes. Explode-by-bit keeps everything in codegen'd aggregates;
    rows = |tokens| × 60, shuffled by (doc, bit) then (doc). ``seed`` salts
    the token hash so independent signature halves can be composed
    (simhash_wide_pairs)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
    )
    hashed = tok.select("doc_id", md5_hash60(F.col("tok"), seed).alias("h"))
    bits = hashed.select(
        "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(HASH_BITS - 1))).alias("b")
    )
    # Column-valued shift amounts need SQL exprs (the Python shiftleft/
    # shiftright wrappers only take literal ints).
    votes = bits.groupBy("doc_id", "b").agg(
        F.sum(
            F.when(F.expr("shiftright(h, b)").bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias("vote")
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("vote") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("simhash")
    )


def simhash_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming via 4×15-bit banded join.

    Pigeonhole: ≤3 differing bits over 4 bands ⇒ at least one band is
    bit-identical, so the band-equality join has perfect recall while
    keeping the shuffle key a 15-bit integer.

    The banded self-join runs over DISTINCT signatures (one
    representative per simhash value, min doc_id) and expands back:
    15-bit band keys give only 32 768 buckets, so raw band collisions
    grow quadratically in corpus size — ~150 M rows at 50 k docs (the
    q_d4 sf1 OOM) — while distinct-signature collisions track content
    diversity. Identical signatures are Hamming 0 by definition, so the
    intra-group expansion is exact, and inter-group pairs carry their
    reps' XOR popcount unchanged — the output set is identical to the
    raw-corpus join's."""
    n_bands = 4
    band_bits = HASH_BITS // n_bands  # 15
    w = Window.partitionBy("simhash")
    tagged = sigs.withColumn("_rep", F.min("doc_id").over(w))
    members = tagged.select(F.col("_rep").alias("_rid"), F.col("doc_id").alias("_mem"))
    reps = tagged.where(F.col("doc_id") == F.col("_rep")).select("doc_id", "simhash")
    bands = reps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * band_bits)
                        .bitwiseAND((1 << band_bits) - 1)
                        .alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    rep_pairs = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    ma = members.select(F.col("_rid").alias("id_a"), F.col("_mem").alias("_ma"))
    mb = members.select(F.col("_rid").alias("id_b"), F.col("_mem").alias("_mb"))
    inter = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "hamming",
        )
    )
    intra = (
        members.select(F.col("_rid").alias("_r"), F.col("_mem").alias("id_a"))
        .join(members.select(F.col("_rid").alias("_r"), F.col("_mem").alias("id_b")), "_r")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return inter.unionByName(intra)


def simhash_wide_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with Hamming ≤ max_hamming over a 120-bit signature
    (two independent 60-bit halves h1/h2), via 4×30-bit pigeonhole bands.

    Why it exists (round-10 sf10 anchor finding, SCALE.md): the 60-bit
    ``simhash_pairs`` bands are 15 bits — 32 768 buckets — so raw band
    collisions carry an n²/2^15 term that rep-collapse only cures in the
    duplication regime (identical signatures). At true corpus GROWTH all
    signatures are distinct, and at ~10^10 docs that term dominates any
    cluster. Doubling the signature keeps the same pigeonhole recall
    guarantee (Hamming ≤ 3 over 4 disjoint bands ⇒ one band identical)
    while dividing the collision term by 2^15. Both halves stay 60-bit
    md5-derived (15 hex chars) so every value fits a SIGNED int64 in
    Spark AND DuckDB — the same cross-engine constraint that set
    HASH_BITS. Same rep-collapse/expansion as simhash_pairs, keyed on
    the (h1, h2) pair."""
    band_bits = HASH_BITS // 2  # 30
    mask = (1 << band_bits) - 1
    w = Window.partitionBy("h1", "h2")
    tagged = sigs.withColumn("_rep", F.min("doc_id").over(w))
    members = tagged.select(F.col("_rep").alias("_rid"), F.col("doc_id").alias("_mem"))
    reps = tagged.where(F.col("doc_id") == F.col("_rep")).select("doc_id", "h1", "h2")

    def band(i: int, h: str, shift: int):
        key = F.shiftright(F.col(h), shift).bitwiseAND(mask) if shift else F.col(
            h
        ).bitwiseAND(mask)
        return F.struct(F.lit(i).alias("band"), key.alias("key"))

    bands = reps.select(
        "doc_id",
        "h1",
        "h2",
        F.explode(
            F.array(
                band(0, "h1", band_bits),
                band(1, "h1", 0),
                band(2, "h2", band_bits),
                band(3, "h2", 0),
            )
        ).alias("bucket"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamm = F.bit_count(F.col("a.h1").bitwiseXOR(F.col("b.h1"))) + F.bit_count(
        F.col("a.h2").bitwiseXOR(F.col("b.h2"))
    )
    rep_pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamm.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    ma = members.select(F.col("_rid").alias("id_a"), F.col("_mem").alias("_ma"))
    mb = members.select(F.col("_rid").alias("id_b"), F.col("_mem").alias("_mb"))
    inter = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "hamming",
        )
    )
    intra = (
        members.select(F.col("_rid").alias("_r"), F.col("_mem").alias("id_a"))
        .join(members.select(F.col("_rid").alias("_r"), F.col("_mem").alias("id_b")), "_r")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return inter.unionByName(intra)


def incremental_dedup_status(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Classify each batch document against an EXISTING corpus:
    ``exact_dup`` (content fingerprint already present), ``near_dup``
    (k-gram Jaccard ≥ threshold with some corpus doc), else ``new`` —
    the continuous-corpus-building shape, where dedup runs new data
    against the accumulated index instead of within one snapshot.

    Both probes are asymmetric joins: fingerprint left-join against the
    distinct corpus fingerprint set, and a batch-side × corpus-side
    shingle inverted-index join (shuffle key = shingle, never doc×doc).
    Round 8: status is a pure function of TEXT, so both sides collapse
    to one representative per distinct text first (``_collapse_reps``)
    and statuses expand back mechanically — the (bid, cid) intersection
    mass then scales with distinct CONTENT on each side, not
    duplication. On the 10×-clone sf1 replica the direct join was
    ~100× the rep-level mass (measured 110 s for q_d9 alone under the
    1 GB envelope); a real crawl corpus is majority exact-dup, so the
    collapsed shape IS the 100 TB shape. At 100 TB the corpus-side
    fingerprint set and rep shingle index are precomputed, stored, and
    bucketed by their join key, so each incremental batch only shuffles
    ITS OWN rows into co-located buckets; a bloom filter of batch
    shingles prunes the corpus-index scan (session.py runtime bloom
    filters do this automatically once the batch side is selective).

    Returns (id_col, status) — one row per batch document.
    """
    from receiptanalyzerpipeline_spark.operators.textanalysis import content_fingerprint

    breps, bmembers = _collapse_reps(batch, id_col, text_col)
    creps, _cmembers = _collapse_reps(corpus, id_col, text_col)

    bfp = breps.select(
        "doc_id", content_fingerprint(F.col("_text")).alias("__fp")
    )
    cfp = creps.select(content_fingerprint(F.col("_text")).alias("__fp")).distinct()
    exact = bfp.join(cfp, "__fp", "left_semi").select("doc_id").withColumn(
        "__exact", F.lit(True)
    )

    bidx = shingle_index(breps, "doc_id", "_text", k)
    cidx = shingle_index(creps, "doc_id", "_text", k)
    bsz = bidx.groupBy("doc_id").agg(F.count("*").alias("n_b"))
    csz = cidx.groupBy("doc_id").agg(F.count("*").alias("n_c"))
    inter = (
        bidx.alias("b")
        .join(cidx.alias("c"), F.col("b.shingle") == F.col("c.shingle"))
        .groupBy(F.col("b.doc_id").alias("bid"), F.col("c.doc_id").alias("cid"))
        .agg(F.count("*").alias("n_inter"))
    )
    near = (
        inter.join(bsz.select(F.col("doc_id").alias("bid"), "n_b"), "bid")
        .join(csz.select(F.col("doc_id").alias("cid"), "n_c"), "cid")
        .where(
            F.col("n_inter").cast("double")
            / (F.col("n_b") + F.col("n_c") - F.col("n_inter"))
            >= threshold
        )
        .select(F.col("bid").alias("doc_id"))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    rep_status = (
        breps.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__exact"), "exact_dup")
            .when(F.col("__near"), "near_dup")
            .otherwise("new")
            .alias("status"),
        )
    )
    # Identical texts classify identically: expand the rep's status to
    # every member through the (rep, member) map — an equi-join that
    # shuffles O(batch) small rows, never pairs.
    return bmembers.join(
        rep_status, bmembers["_rid"] == rep_status["doc_id"]
    ).select(F.col("_mem").alias(id_col), "status")
