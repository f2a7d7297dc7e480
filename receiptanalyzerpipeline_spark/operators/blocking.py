"""Edit-distance joins for entity resolution.

``prefix_filter_edit_join`` returns every pair of records whose names
are within Levenshtein ``d`` (and whose optional exact ``block_keys``
are equal). q_er1 (brand-blocked) and q_er2 (unblocked) are the
registry's two callers.

Candidates come from the lossless symmetric rarest-q-gram prefix
filter. Strings within edit distance d share at least
max(|s|,|t|) − q + 1 − d·q q-grams, so any pair under the threshold
shares ≥ 1 gram of each member's d·q+1 RAREST grams, ranked by one
CONSISTENT global frequency (both join sides derive from the same
ranking, which is all the symmetric-prefix theorem needs). A rare-gram
equi-join plus a length filter therefore finds every true pair without
ever forming block² or corpus² candidate sets. Short strings (longer
member < q·(d+1), where the bound is vacuous) index a catch-all bucket
instead; the 5-char sentinel cannot collide with real q-grams. With
``block_keys`` the gram join also requires key equality, so cost scales
with per-(key, gram) co-occurrence. tests/test_curation.py and
tests/test_blocking.py check the composition against exhaustive joins.

Exact duplicates of (block_keys, name) collapse to one representative
before discovery, so both candidate mass and the Levenshtein count
scale with distinct content.

The whole join is one SQL statement: building it costs a few dozen
py4j round trips where a chain of DataFrame calls, each analysed
eagerly by the JVM, cost well over a thousand.

Join strategy is the one size decision: past ``SHUFFLE_ONLY_ROWS``
input rows, read from plan statistics or parquet footers by
``_estimated_rows`` without running a Spark job, the corpus-sized
joins are merge-hinted so no broadcast build scales with the corpus.
Either strategy returns the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["prefix_filter_edit_join"]


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


def _ident(name: str) -> str:
    """A caller's column name as a quoted SQL identifier inside the
    statement text: backticks doubled for SQL, braces doubled because
    ``spark.sql(text, df=...)`` formats the text like ``str.format``."""
    quoted = name.replace("`", "``").replace("{", "{{").replace("}", "}}")
    return f"`{quoted}`"


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

    Composition (round 7, the clone-density lesson — SCALE.md): a window
    over (block_keys, name) tags each row with its clone group's
    representative (min key). Candidates come from the prefix filter
    over the representatives alone, and Levenshtein runs once per rep
    pair; each verified pair then expands to its groups' members, names
    swapped alongside keys when id normalization reorders them. Clone
    pairs (same block keys and name, edit 0) are one self-join of the
    windowed rows on the window's own keys, so it reuses the window's
    partitioning. On a 10x-cloned corpus that is 100x fewer
    edit-distance evaluations for the identical result set.

    Rows with a NULL key, name or block key are dropped up front. None
    can be in a verified pair, but the window groups NULL names together
    (an unverified edit-0 pair, ADVICE r7), and a NULL member key would
    expand to a pair of one key with itself.
    """
    if shuffle_only is None:
        shuffle_only = _estimated_rows(df) > SHUFFLE_ONLY_ROWS

    def merge(*rels: str) -> str:
        # Past SHUFFLE_ONLY_ROWS the gram index and the member map carry
        # corpus-sized name payloads: sort-merge joins, so no broadcast
        # build scales with the corpus. Below it, Spark chooses by size.
        return f"/*+ MERGE({', '.join(rels)}) */" if shuffle_only else ""

    bk = [f"_b{i}" for i in range(len(block_keys))]
    renamed = ", ".join([
        f"{_ident(key_col)} AS _key", f"{_ident(name_col)} AS _name",
        *(f"{_ident(k)} AS {b}" for k, b in zip(block_keys, bk)),
    ])
    not_null = " AND ".join(f"{c} IS NOT NULL" for c in ["_key", "_name", *bk])
    cols = ", ".join(["_key", "_name", *bk])
    same_block = "".join(f" AND a.{b} = b.{b}" for b in bk)
    # Block keys first: the window's exchange and sort order, reused as is.
    same_clone = " AND ".join(f"a.{c} = b.{c}" for c in [*bk, "_name"])
    grams = (
        f"array_distinct(transform(sequence(1, length(_name) - {q - 1}), "
        f"i -> substring(_name, i, {q})))"
    )
    return df.sparkSession.sql(
        f"""
        WITH base AS (SELECT {renamed} FROM {{df}}),
        tagged AS (
          SELECT *, min(_key) OVER (PARTITION BY {", ".join([*bk, "_name"])}) AS _rep
          FROM base WHERE {not_null}
        ),
        grams AS (
          SELECT {cols}, explode(CASE
              WHEN length(_name) >= {q * (d + 1)} THEN {grams}
              WHEN length(_name) >= {q} THEN array_append({grams}, '#SHRT')
              ELSE array('#SHRT') END) AS gram
          FROM tagged WHERE _key = _rep
        ),
        freq AS (SELECT gram, count(*) AS cnt FROM grams GROUP BY gram),
        ranked AS (
          SELECT {cols},
                 slice(sort_array(collect_list(struct(cnt, gram))), 1, {d * q + 1}) AS pg
          FROM grams JOIN freq USING (gram)
          GROUP BY {cols}
        ),
        prefix AS (SELECT {cols}, explode(transform(pg, x -> x.gram)) AS gram FROM ranked),
        pairs AS (
          SELECT {merge("b")} DISTINCT a._key AS key_a, b._key AS key_b,
                 a._name AS name_a, b._name AS name_b
          FROM prefix a JOIN prefix b ON a.gram = b.gram{same_block}
          WHERE a._key < b._key AND abs(length(a._name) - length(b._name)) <= {d}
        ),
        verified AS (
          SELECT *, CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist FROM pairs
        )
        SELECT {merge("ma", "mb")}
               least(ma._key, mb._key) AS key_a, greatest(ma._key, mb._key) AS key_b,
               CASE WHEN ma._key > mb._key THEN v.name_b ELSE v.name_a END AS name_a,
               CASE WHEN ma._key > mb._key THEN v.name_a ELSE v.name_b END AS name_b,
               v.edit_dist
        FROM verified v
        JOIN tagged ma ON ma._rep = v.key_a
        JOIN tagged mb ON mb._rep = v.key_b
        WHERE v.edit_dist <= {d}
        UNION ALL
        SELECT /*+ MERGE(b) */ a._key, b._key, a._name, a._name, CAST(0 AS BIGINT)
        FROM tagged a JOIN tagged b ON {same_clone}
        WHERE a._key < b._key
        """,
        df=df,
    )
