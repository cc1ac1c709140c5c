"""Mention detection + entity-link scoring (BASELINE.json north_star:
"batched mention detection and entity-link scoring").

Shape at 10^12 pages: explode page text into candidate mention tokens
(map-only), equi-join a **broadcast** entity dictionary (the dictionary
is small — no shuffle of the big side), aggregate mention evidence per
(page, entity), then a window top-1 per page.  The only shuffle is the
per-page aggregation, partitioned by the page key.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

KB_PREFIX = "http://kb.example.org/entity/"

# Deterministic demo dictionary over the synthetic docs vocabulary.
DEFAULT_ENTITY_NAMES = (
    "spark", "join", "hash", "window", "stream", "vector", "query",
    "table", "shuffle", "batch",
)


def entity_dictionary(spark: SparkSession,
                      names=DEFAULT_ENTITY_NAMES) -> DataFrame:
    # From an Arrow table: a LocalRelation, which needs no Python task.
    names = sorted(names)
    rows = pa.table([names, [KB_PREFIX + n for n in names]],
                    names=["name", "entity_iri"])
    return spark.createDataFrame(rows, "name string, entity_iri string")


def detect_mentions(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, token) — one row per token occurrence (evidence unit)."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"))


def link_entities(docs: DataFrame, dictionary: DataFrame,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-doc candidate entities with evidence counts.

    Broadcast hash join: mentions ⋈ dictionary on the token key.
    """
    mentions = detect_mentions(docs, id_col, text_col)
    cand = mentions.join(
        F.broadcast(dictionary),
        mentions.token == dictionary.name)
    return (cand.groupBy("id", "entity_iri", "name")
            .agg(F.count(F.lit(1)).alias("n_mentions")))


def best_entity_per_doc(docs: DataFrame, dictionary: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Window top-1: highest evidence count, ties → lexicographic name."""
    scored = link_entities(docs, dictionary, id_col, text_col)
    w = Window.partitionBy("id").orderBy(F.desc("n_mentions"), F.asc("name"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") == 1)
            .select("id", "entity_iri", "name", "n_mentions"))


def scored_entity_links(docs: DataFrame, dictionary: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """TF-IDF-weighted link scoring: mention count × corpus rarity.

    ``score = n_mentions · ln(1 + N/df)`` where df = how many documents
    mention the entity — a ubiquitous name ("table") is weak evidence, a
    rare one is strong.  df is tiny (≤ dictionary size) so it broadcasts
    back; the big side shuffles only once (the per-doc aggregation in
    link_entities)."""
    cand = link_entities(docs, dictionary, id_col, text_col)
    # N as a broadcast scalar IN the DAG — a driver-side docs.count()
    # here would force a separate full pass over the corpus before the
    # job even starts; as a 1-row broadcast crossJoin it runs inside
    # the same job (and the count scan prunes to zero data columns).
    n_docs = docs.agg(
        F.count(F.lit(1)).cast("double").alias("corpus_n_docs"))
    df_ = cand.groupBy("name").agg(
        F.count_distinct("id").alias("doc_freq"))
    return (cand.join(F.broadcast(df_), "name")
            .crossJoin(F.broadcast(n_docs))
            .withColumn(
                "score",
                F.round(F.col("n_mentions")
                        * F.log(F.lit(1.0)
                                + F.col("corpus_n_docs")
                                / F.col("doc_freq")),
                        6))
            .select("id", "entity_iri", "name", "n_mentions",
                    "doc_freq", "score"))


# Canonical KB names whose SURFACE forms in text differ by small edits
# (plural/inflected variants) — the fuzzy-linking demo gazetteer.
FUZZY_ENTITY_NAMES = (
    "tables", "sparks", "windows", "streams", "joins", "merged",
    "filters", "scans",
)


def fuzzy_entity_dictionary(spark: SparkSession,
                            names=FUZZY_ENTITY_NAMES) -> DataFrame:
    return entity_dictionary(spark, names)


def _del1_keys_expr(col: str) -> str:
    """Deletion-1 neighborhood of a string column as a SQL array
    expression: the string itself plus every single-character deletion
    (FastSS / SymSpell blocking keys).  Two strings with Levenshtein
    distance ≤ 1 ALWAYS share at least one such key (equal → identity
    key; substitution at i → both i-deletions equal; insert/delete →
    one side's deletion equals the other's identity), so an equi-join
    on the key is a complete candidate generator; sharing a key does
    NOT bound the distance ("ab"/"ba" share "a"), so the Levenshtein
    post-filter stays.  ``array_union`` dedups repeated keys (deleting
    either of two equal adjacent chars yields the same string)."""
    return (f"case when length({col}) = 0 then array({col}) else "
            f"array_union(array({col}), "
            f"transform(sequence(1, length({col})), "
            f"i -> concat(substring({col}, 1, i-1), "
            f"substring({col}, i+1)))) end")


def fuzzy_link_entities(docs: DataFrame, dictionary: DataFrame,
                        max_edits: int = 1, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Typo/inflection-tolerant mention detection: tokens within
    ``max_edits`` Levenshtein edits of a gazetteer name (surface forms
    like plurals and truncations never exact-match the canonical KB
    label — the realistic gap exact linking leaves).

    Per (doc, entity): ``n_mentions``, ``min_edits`` (0 = an exact hit
    exists), ``n_exact``.

    Scale shape (``max_edits=1``, the default): deletion-neighborhood
    BLOCKING — both sides explode into their deletion-1 key sets
    (:func:`_del1_keys_expr`; a map-only ≈(len+1)× row expansion, the
    same shape as LSH shingling) and candidates come from a plain
    **equi-join** on the key, so Levenshtein runs only on blocked
    pairs: O(matches), never O(tokens × gazetteer).  The big side
    still never shuffles — the exploded gazetteer keys broadcast (a
    10^6-entry gazetteer is ~10^7 short keys; beyond broadcast reach,
    drop the hint and let AQE pick a shuffle join of the SMALL key
    table — the equi-join stays an equi-join either way, which is the
    point).  A key-sharing pair can match on several keys, so matched
    candidates dedup per occurrence before counting — one Exchange
    over MATCHES only, then the per-doc aggregation as in exact
    linking.

    ``max_edits > 1`` falls back to the broadcast nested-loop join
    with the length-band prefilter (|Δlen| ≤ k lower-bounds the edit
    distance): correct at any k, but O(tokens × gazetteer) predicate
    work — fine for small gazetteers only."""
    if max_edits == 1:
        toks = docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), " "))
            .alias("pos", "token"))
        tkeys = toks.select(
            "id", "pos", "token",
            F.explode(F.expr(_del1_keys_expr("token"))).alias("bkey"))
        gkeys = dictionary.select(
            "name", "entity_iri",
            F.explode(F.expr(_del1_keys_expr("name"))).alias("bkey"))
        cand = (tkeys.join(F.broadcast(gkeys), "bkey")
                .select("id", "pos", "token", "name", "entity_iri")
                .distinct()
                .withColumn("dist", F.levenshtein("token", "name"))
                .filter(F.col("dist") <= max_edits))
    else:
        mentions = detect_mentions(docs, id_col, text_col)
        cond = (
            (F.abs(F.length(mentions.token)
                   - F.length(dictionary.name)) <= max_edits)
            & (F.levenshtein(mentions.token, dictionary.name)
               <= max_edits))
        cand = (mentions.join(F.broadcast(dictionary), cond)
                .select("id", "entity_iri", "name",
                        F.levenshtein("token", "name").alias("dist")))
    return (cand.groupBy("id", "entity_iri", "name")
            .agg(F.count(F.lit(1)).alias("n_mentions"),
                 F.min("dist").cast("long").alias("min_edits"),
                 F.sum(F.when(F.col("dist") == 0, 1).otherwise(0))
                 .cast("long").alias("n_exact")))


def fuzzy_link_sql(names=FUZZY_ENTITY_NAMES, max_edits: int = 1,
                   table: str = "documents") -> str:
    """DuckDB mirror of :func:`fuzzy_link_entities` (same length band,
    same classic Levenshtein, same aggregates)."""
    values = ", ".join(f"('{n}', '{KB_PREFIX}{n}')"
                       for n in sorted(names))
    return f"""
        WITH fl_m AS (
          SELECT doc_id AS id,
                 unnest(string_split(text, ' ')) AS token
          FROM {table}),
        fl_d(name, entity_iri) AS (VALUES {values}),
        fl_c AS (
          SELECT id, entity_iri, name,
                 levenshtein(token, name) AS dist
          FROM fl_m, fl_d
          WHERE abs(len(token) - len(name)) <= {max_edits}
            AND levenshtein(token, name) <= {max_edits})
        SELECT id, entity_iri, name,
               CAST(count(*) AS BIGINT) AS n_mentions,
               CAST(min(dist) AS BIGINT) AS min_edits,
               CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact
        FROM fl_c GROUP BY 1, 2, 3
    """
