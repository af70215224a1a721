"""Line-level boilerplate dedup: strip lines repeated across documents.

The CCNet/RefinedWeb curation stage the doc-level dedup family can't
express: navigation menus, cookie banners, and legal footers repeat across
thousands of pages while the surrounding documents stay unique, so
doc-granularity near-dup passes keep them all. Removing every line that
occurs in ≥ `min_docs` distinct documents kills the boilerplate and keeps
the prose.

Scale shape (100 TB):
1. explode docs to (doc_id, pos, line) — pure codegen, no Python;
2. line frequency = one map-side-combinable groupBy on xxhash64(line), so
   every shuffle key is an 8-byte long, never the line string;
3. the frequent-line set is SMALL by construction (boilerplate ⇒ repeated
   ⇒ few distinct strings), so it collapses to one row holding
   collect_set(hash) that is broadcast to every document;
4. each document strips itself with a per-row array filter against that
   set and re-concatenates its lines — order is preserved by the filter,
   and the corpus-sized side never shuffles (no anti-join, no reassembly
   aggregate).

Reference analog: the staging dedup of repeated payload snapshots
(`dbt_nhl/models/staging/stg_games.sql:32` latest-snapshot ROW_NUMBER
rule) works at row grain; this operator generalizes the "same content seen
many times ⇒ keep once / drop" rule to sub-document grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NEWLINE = "\n"


def exploded_lines(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pos, line) — one row per physical line, position-preserving."""
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), NEWLINE)).alias("pos", "line"),
    )


def frequent_lines(
    lines: DataFrame, min_docs: int, *, id_col: str = "doc_id"
) -> DataFrame:
    """Lines occurring in ≥ min_docs distinct docs (the boilerplate set).

    Blank/whitespace-only lines are excluded: nearly every multi-paragraph
    document contains them, so they'd always cross the threshold and the
    strip would collapse paragraph structure corpus-wide — whitespace is
    not boilerplate."""
    # Filters/aggregates as parsed SQL strings (r12 chatter pass): same
    # expression trees, one py4j round trip each instead of one per node.
    return (
        lines.filter("length(trim(line)) > 0")
        .groupBy("line")
        .agg(F.expr(f"count(DISTINCT {id_col})").alias("n_docs"))
        .filter(f"n_docs >= {int(min_docs)}")
    )


def strip_frequent_lines(
    docs: DataFrame,
    min_docs: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove boilerplate lines; reassemble each doc in original order.

    Returns (id, text, n_lines, n_removed): the cleaned text (empty string
    when every line was boilerplate), the original line count, and how many
    lines were stripped. Deterministic and idempotent given a fixed corpus.

    Shape (r13, guide §8 "decide with small rows, move big rows once"):
    the pre-r13 form pushed the WHOLE corpus through explode → broadcast
    anti-join → sort_array(collect_list(struct(pos, line))) reassembly —
    every line string (documents here are multi-KB single lines) was
    hashed by the frequency aggregate's distinct expansion, compared by
    the anti-join, buffered by the object aggregate and re-concatenated,
    4.5 of curation_pipeline's 13.8 executor-CPU-s at sf0.1
    (bench_logs/r13/probe_curation_decomp_r13.out). Only the DECISION
    (which lines are boilerplate) needs cross-document information, and
    it only needs 8-byte line hashes; the strip itself is per-row. So:

    1. frequency pass over ``xxhash64(line)`` — the heavy strings die at
       the scan projection; every aggregate/shuffle key is a long;
    2. the boilerplate set (small by construction: repeated ⇒ few
       distinct) is collapsed to ONE row holding ``collect_set(hash)``
       and broadcast;
    3. each doc strips itself with a per-row array filter against that
       set and re-concats — zero corpus-sized shuffle, no reassembly
       aggregate, order preserved by construction (``filter`` keeps
       array order).

    Exactness: identical to the string-keyed form unless two DISTINCT
    lines collide in xxhash64 (would merge their document frequencies /
    strip an innocent line). Birthday bound ~L²/2⁶⁵ for L distinct lines
    — the same accepted collision class as the shingle hashing in
    operators/dedup.py (≈1e-11 even at 1e7 distinct lines), and the
    DuckDB oracle (string-keyed, strip_frequent_lines_sql) cross-checks
    every downstream value. At web scale a boiler set too large to
    broadcast would fall back to the join form; boilerplate's definition
    (few distinct strings repeated many times) keeps it small here.
    """
    lines = exploded_lines(docs, id_col=id_col, text_col=text_col)
    # Blank/whitespace-only lines excluded, as in frequent_lines: they
    # would always cross the threshold and collapse paragraph structure.
    boiler_set = (
        lines.filter("length(trim(line)) > 0")
        .select(F.col(id_col), F.xxhash64("line").alias("hl"))
        .groupBy("hl")
        .agg(F.expr(f"count(DISTINCT {id_col})").alias("n_docs"))
        .filter(f"n_docs >= {int(min_docs)}")
        .agg(F.expr("collect_set(hl)").alias("boiler_hl"))  # exactly 1 row
    )
    # NULL-text docs produce no exploded rows, so the legacy form dropped
    # them from the output; the per-row form keeps that contract.
    return (
        docs.filter(f"{text_col} IS NOT NULL")
        .join(F.broadcast(boiler_set))  # 1-row cross: ships the set
        .select(
            F.col(id_col),
            F.split(F.col(text_col), NEWLINE).alias("_sp"),
            "boiler_hl",
        )
        .selectExpr(
            id_col,
            "concat_ws('\\n', filter(_sp,"
            " l -> NOT array_contains(boiler_hl, xxhash64(l)))) AS text",
            "CAST(size(_sp) AS BIGINT) AS n_lines",
            "CAST(size(_sp) - size(filter(_sp,"
            " l -> NOT array_contains(boiler_hl, xxhash64(l))))"
            " AS BIGINT) AS n_removed",
        )
    )


def strip_frequent_lines_sql(
    min_docs: int,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`strip_frequent_lines` (same columns/rows)."""
    return f"""
        WITH lines AS (
            SELECT {id_col},
                   generate_subscripts(sp, 1) - 1 AS pos,
                   unnest(sp) AS line
            FROM (
                SELECT {id_col}, string_split({text_col}, chr(10)) AS sp
                FROM {table}
            )
        ),
        boiler AS (
            SELECT line
            FROM (
                SELECT line, count(DISTINCT {id_col}) AS n_docs
                FROM lines WHERE length(trim(line)) > 0 GROUP BY 1
            )
            WHERE n_docs >= {min_docs}
        ),
        kept AS (
            SELECT l.* FROM lines l
            WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.line = l.line)
        ),
        rebuilt AS (
            SELECT {id_col},
                   string_agg(line, chr(10) ORDER BY pos) AS text,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM kept GROUP BY 1
        ),
        totals AS (
            SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_lines
            FROM lines GROUP BY 1
        )
        SELECT t.{id_col},
               COALESCE(r.text, '') AS text,
               t.n_lines,
               t.n_lines - COALESCE(r.n_kept, 0) AS n_removed
        FROM totals t LEFT JOIN rebuilt r USING ({id_col})
    """


def line_profile(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc line stats: counts + how much of the doc is repeated lines.

    (id, n_lines, n_unique_lines, dup_line_frac) — the Gopher-style
    repeated-line signals at line grain, one scan + one groupBy."""
    lines = exploded_lines(docs, id_col=id_col, text_col=text_col)
    uniq = F.count_distinct(F.col("line"))
    n = F.count(F.lit(1))
    return lines.groupBy(id_col).agg(
        n.alias("n_lines"),
        uniq.alias("n_unique_lines"),
        ((n - uniq).cast("double") / n).alias("dup_line_frac"),
    )
