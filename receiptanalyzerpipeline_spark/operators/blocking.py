"""Edit-distance joins for entity resolution.

``prefix_filter_edit_join`` returns every pair of records whose names
are within Levenshtein ``d`` (and whose optional exact ``block_keys``
are equal). Candidates come from the lossless symmetric rarest-q-gram
prefix filter (``prefix_filter_pairs``): any pair within edit distance
``d`` shares at least one of each member's ``d*q+1`` globally rarest
q-grams, so a rare-gram equi-join plus a length filter finds every true
pair without ever forming block² or corpus² candidate sets. Exact
duplicates of (block_keys, name) collapse to one representative before
discovery, so both candidate mass and the Levenshtein count scale with
distinct content. q_er1 (brand-blocked) and q_er2 (unblocked) are the
registry's two callers.

Join strategy is the one size decision: past ``SHUFFLE_ONLY_ROWS``
input rows, read from plan statistics or parquet footers by
``_estimated_rows`` without running a Spark job, the corpus-sized
joins are merge-hinted so no broadcast build scales with the corpus.
Either strategy returns the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "prefix_filter_pairs",
    "prefix_filter_edit_join",
]


# Inputs past this row count route the prefix machinery's joins through
# SMJ (merge hints): above it, the gram index / member-map broadcast
# builds carry enough name payload to endanger a small driver heap
# (four stacked builds OOMed the 1 GB sf1 envelope at 200k input rows,
# round 8), and at genuine corpus scale these sides are never
# broadcast-able. Below it, Spark's own size-adaptive broadcast choice
# is both safe and measurably faster (q_er2 at sf0.1: 0.47 s broadcast
# vs 0.75 s SMJ).
SHUFFLE_ONLY_ROWS = 100_000

# Row-width assumption for converting Catalyst sizeInBytes into a row
# estimate when neither CBO rowCount nor parquet footers are available.
# Deliberately SMALL: a low bytes-per-row divisor inflates the row
# estimate, which errs toward shuffle_only=True — the safe direction
# (SMJ is correct at any scale; a mis-routed broadcast is the one that
# can OOM the driver heap).
_ASSUMED_ROW_BYTES = 32

# Driver-side footer reads are metadata-proportional; past this many
# files, read a sample and extrapolate by file count instead of
# touching every footer.
_MAX_FOOTER_READS = 256


def _estimated_rows(df: DataFrame) -> int:
    """Row-count estimate WITHOUT running a Spark job (ADVICE r8: the
    previous ``df.count()`` here made a nominally-lazy plan builder
    eagerly scan its full input during construction, then the real join
    recomputed that same scan).

    Resolution order:
    1. CBO/catalog ``rowCount`` when the optimized plan carries one.
    2. Exact row totals from the scan's parquet FOOTERS
       (``df.inputFiles()`` + pyarrow metadata — no executors, no data
       pages). This matters because Catalyst's ``sizeInBytes`` is the
       COMPRESSED size: a clone-dense corpus dictionary-encodes to
       ~9 bytes/row, and a byte-derived estimate would under-count by
       3-4× — re-routing the sf1 corpus back to the exact broadcast
       heap death this threshold exists to prevent. When the plan has
       filters above the scan, footer totals over-count the post-filter
       rows — the safe direction.
    3. ``sizeInBytes`` over a deliberately small assumed row width.

    Callers that know their scale can bypass the estimate by passing
    ``shuffle_only`` explicitly."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return int(str(rc.get()))
    try:
        files = [f for f in df.inputFiles() if f.endswith(".parquet")]
    except Exception:
        files = []
    if files:
        try:
            from urllib.parse import unquote, urlparse

            import pyarrow.parquet as pq

            sample = files[:_MAX_FOOTER_READS]
            total = 0
            for f in sample:
                u = urlparse(f)
                if u.scheme not in ("", "file"):
                    raise ValueError(f"non-local scheme {u.scheme}")
                total += pq.ParquetFile(unquote(u.path)).metadata.num_rows
            if len(files) > len(sample):
                total = total * len(files) // len(sample)
            return total
        except Exception:
            pass  # remote/unreadable footers: fall through to stats
    return int(str(stats.sizeInBytes())) // _ASSUMED_ROW_BYTES


def prefix_filter_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
    q: int = 3,
    d: int = 2,
    block_keys: tuple[str, ...] = (),
    shuffle_only: bool | None = None,
) -> DataFrame:
    """LOSSLESS candidate pairs for ``levenshtein(name_a, name_b) <= d``:
    the symmetric rarest-(d*q+1)-gram prefix filter.

    Theorem: strings within edit distance d share at least
    max(|s|,|t|) − q + 1 − d·q q-grams, so any pair under the threshold
    shares ≥ 1 gram of each member's d·q+1 RAREST grams (ranked by a
    CONSISTENT global frequency — both join sides derive from the same
    ranking, which is all the symmetric-prefix theorem needs). Short
    strings (longer member < q·(d+1), where the bound is vacuous) index
    a catch-all bucket instead; the 5-char sentinel cannot collide with
    real q-grams. See plans/curation.py q_er2 for the full derivation
    and the exhaustive-join proof tests (tests/test_curation.py).

    ``block_keys`` adds exact-match blocking columns (e.g. brand): the
    gram join then requires gram AND key equality, and cost scales with
    per-(key, gram) co-occurrence — never block².

    Returns (key_a, key_b, name_a, name_b) distinct candidates; callers
    apply the edit-distance verify. Output is a SUPERSET of the true
    pairs and the verify stage makes the composition exact.
    """
    prefix_n = d * q + 1
    if shuffle_only is None:
        shuffle_only = _estimated_rows(df) > SHUFFLE_ONLY_ROWS
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(name_col).alias("name"),
        *[F.col(k) for k in block_keys],
    )
    grams_sql = (
        f"array_distinct(transform(sequence(1, length(name) - {q - 1}), "
        f"i -> substring(name, i, {q})))"
    )
    case_sql = (
        f"CASE WHEN length(name) >= {q * (d + 1)} THEN {grams_sql} "
        f"WHEN length(name) >= {q} THEN array_append({grams_sql}, '#SHRT') "
        f"ELSE array('#SHRT') END"
    )
    g = base.select(
        "key", "name", *block_keys, F.explode(F.expr(case_sql)).alias("gram")
    )
    freq = g.groupBy("gram").agg(F.count("*").alias("cnt"))
    prefix = (
        g.join(freq, "gram")
        .groupBy("key", "name", *block_keys)
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("cnt", "gram"))), 1, prefix_n
            ).alias("pg")
        )
        .select(
            "key",
            "name",
            *block_keys,
            F.explode(F.transform(F.col("pg"), lambda x: x["gram"])).alias("gram"),
        )
    )
    a = prefix.select(
        F.col("key").alias("key_a"), F.col("name").alias("name_a"),
        *block_keys, "gram",
    )
    b = prefix.select(
        F.col("key").alias("key_b"), F.col("name").alias("name_b"),
        *block_keys, "gram",
    )
    # Both sides are corpus-proportional gram indexes CARRYING NAME
    # STRINGS — past SHUFFLE_ONLY_ROWS, force SMJ so no heap ever builds
    # a name-weighted HashedRelation from a mis-estimated size.
    if shuffle_only:
        b = b.hint("merge")
    return (
        a.join(b, ["gram", *block_keys])
        .where(
            (F.col("key_a") < F.col("key_b"))
            & (F.abs(F.length("name_a") - F.length("name_b")) <= d)
        )
        .select("key_a", "key_b", "name_a", "name_b")
        .distinct()
    )


def prefix_filter_edit_join(
    df: DataFrame,
    key_col: str,
    name_col: str,
    q: int = 3,
    d: int = 2,
    block_keys: tuple[str, ...] = (),
    shuffle_only: bool | None = None,
) -> DataFrame:
    """VERIFIED edit-distance pairs: every (key_a, key_b, name_a, name_b,
    edit_dist) with ``levenshtein <= d`` (and equal ``block_keys``),
    id-ordered.

    Composition (round 7, the clone-density lesson — SCALE.md): collapse
    exact duplicates of (block_keys, name) to one representative (min
    key), generate candidates with the lossless rarest-q-gram prefix
    filter over the representatives, Levenshtein-verify ONCE per rep
    pair, then expand back: intra-group pairs are edit 0 by identity,
    inter-group pairs carry their reps' distance with names swapped
    alongside keys when id normalization reorders them. Both candidate
    mass and Levenshtein count scale with distinct content, not
    duplication — on a 10x-cloned corpus that is 100x fewer edit-distance
    evaluations for the identical result set.
    """
    from pyspark.sql.window import Window

    if shuffle_only is None:
        shuffle_only = _estimated_rows(df) > SHUFFLE_ONLY_ROWS
    # Past SHUFFLE_ONLY_ROWS the member map and rep tables are big
    # enough (with name payloads) that broadcast builds endanger a
    # small heap; below it Spark's size-adaptive broadcast is faster.
    _mh = (lambda x: x.hint("merge")) if shuffle_only else (lambda x: x)
    base = df.select(
        F.col(key_col).alias("_key"),
        F.col(name_col).alias("_name"),
        *[F.col(k) for k in block_keys],
    )
    # NULL names (or NULL block keys) can never appear in a verified
    # pair — levenshtein(NULL, ·) is NULL and the candidate equi-join
    # drops NULL keys — but Window.partitionBy groups NULLs together,
    # so without this filter two NULL-name rows would form a rep group
    # and emit an unverified edit_dist=0 pair (ADVICE r7). Drop them up
    # front so the collapsed path stays result-identical to the direct
    # verify for arbitrary nullable inputs.
    null_guard = F.col("_name").isNotNull()
    for k in block_keys:
        null_guard = null_guard & F.col(k).isNotNull()
    base = base.where(null_guard)
    w = Window.partitionBy(*block_keys, "_name")
    tagged = base.withColumn("_rep", F.min("_key").over(w))
    members = tagged.select(F.col("_rep").alias("_rid"), F.col("_key").alias("_mem"))
    reps = tagged.where(F.col("_key") == F.col("_rep")).select(
        F.col("_key").alias("key"), F.col("_name").alias("name"), *block_keys
    )
    rep_pairs = (
        prefix_filter_pairs(
            reps, "key", "name", q=q, d=d, block_keys=block_keys,
            shuffle_only=shuffle_only,
        )
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .where(F.col("edit_dist") <= d)
    )
    # Expansion joins: the member map is corpus-sized (one row per input
    # row) — above the routing threshold, merge-hint so no broadcast
    # build scales with the corpus (same OOM class as the gram join).
    ma = members.select(F.col("_rid").alias("key_a"), F.col("_mem").alias("_ma"))
    mb = members.select(F.col("_rid").alias("key_b"), F.col("_mem").alias("_mb"))
    swap = F.col("_ma") > F.col("_mb")
    inter = (
        rep_pairs.join(_mh(ma), "key_a")
        .join(_mh(mb), "key_b")
        .select(
            F.least("_ma", "_mb").alias("key_a"),
            F.greatest("_ma", "_mb").alias("key_b"),
            F.when(swap, F.col("name_b")).otherwise(F.col("name_a")).alias("name_a"),
            F.when(swap, F.col("name_a")).otherwise(F.col("name_b")).alias("name_b"),
            "edit_dist",
        )
    )
    g = members.join(_mh(reps.select(F.col("key").alias("_rid"), "name")), "_rid")
    intra = (
        g.select("_rid", "name", F.col("_mem").alias("key_a"))
        .join(_mh(g.select("_rid", F.col("_mem").alias("key_b"))), "_rid")
        .where(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            F.col("name").alias("name_a"),
            F.col("name").alias("name_b"),
            F.lit(0).cast("long").alias("edit_dist"),
        )
    )
    return inter.unionByName(intra)
