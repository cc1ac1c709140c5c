"""Ground-truth checks, evaluated in DuckDB, and the seeded SPARQL mix.

The truth is the generator's: the triples each page must yield.  Blank
nodes are compared by position only (the program skolemizes them from its
own per-page labels), so a page's output must equal its expected triples
as a multiset with every blank node written ``_:``.  Distinct-triple
counts use the generator's page-scoped labels instead.

Query answers are computed by DuckDB over the current truth (after every
recrawl round) and compared as multisets; ``topk_typed`` is compared with
SPARQL 1.1 §15.1 numeric ordering, tolerating ties at the cut.  An answer
that matches the lexical order instead is the known ORDER-BY defect: it is
counted on its own (``known_defect``) and in ``failed_ratio``.
"""

from __future__ import annotations

import random
from collections import Counter

import duckdb
import pyarrow as pa

from gen import LANGS, RDF_TYPE, SCHEMA, SOURCE_PREFIX, Page, truth_table

# The one rule for comparing triples, as (name, SQL expression) pairs
# that DuckDB and Spark both parse: blank nodes by position only (written
# ``_:``), a missing datatype or language as ''.  ``wrong_pages`` uses it
# here, and the extract check in run.py fingerprints the same columns.
NORM_EXPRS = (
    ("url", "url"),
    ("s", "CASE WHEN subj_kind = 'bnode' THEN '_:' ELSE subj END"),
    ("subj_kind", "subj_kind"), ("pred", "pred"),
    ("o", "CASE WHEN obj_kind = 'bnode' THEN '_:' ELSE obj_value END"),
    ("obj_kind", "obj_kind"),
    ("dt", "coalesce(obj_datatype, '')"), ("lg", "coalesce(obj_lang, '')"),
)
_NORM = ", ".join(f"{e} AS {n}" for n, e in NORM_EXPRS)


class Truth:
    """The expected triples of the current corpus, kept in DuckDB."""

    def __init__(self, pages: list[Page]):
        self.db = duckdb.connect()
        self.db.register("_new", truth_table(pages))
        self.db.execute("CREATE TABLE truth AS SELECT * FROM _new")
        self.db.unregister("_new")
        self.kinds = {p.url: p.kind for p in pages}

    def replace(self, pages: list[Page]) -> None:
        """Recrawl-replace: a page's new triples replace all its old ones."""
        urls = pa.table({"url": [p.url for p in pages]})
        self.db.register("_urls", urls)
        self.db.register("_new", truth_table(pages))
        self.db.execute("DELETE FROM truth WHERE url IN "
                        "(SELECT url FROM _urls)")
        self.db.execute("INSERT INTO truth SELECT * FROM _new")
        self.db.unregister("_urls")
        self.db.unregister("_new")

    def scalar(self, sql: str):
        return self.db.execute(sql).fetchone()[0]

    # -- extraction outputs --------------------------------------------

    def wrong_pages(self, parquet_glob: str) -> set[str]:
        """Urls whose extracted triples differ from the truth."""
        rows = self.db.execute(f"""
            WITH got AS (SELECT {_NORM} FROM read_parquet(
                           '{parquet_glob}', hive_partitioning = false)),
                 exp AS (SELECT {_NORM} FROM truth)
            SELECT DISTINCT url FROM (
              (SELECT * FROM got EXCEPT ALL SELECT * FROM exp)
              UNION ALL
              (SELECT * FROM exp EXCEPT ALL SELECT * FROM got))""").fetchall()
        return {r[0] for r in rows}

    def empty_pages(self, parquet_glob: str) -> int:
        """Pages of the corpus with no extracted triple (quarantined)."""
        got = self.scalar(f"SELECT count(DISTINCT url) FROM read_parquet("
                          f"'{parquet_glob}', hive_partitioning = false)")
        return len(self.kinds) - got

    def expected_distinct(self) -> int:
        return self.scalar("""
            SELECT count(*) FROM (SELECT DISTINCT
              CASE WHEN subj_kind = 'bnode' THEN url || subj ELSE subj END,
              subj_kind, pred,
              CASE WHEN obj_kind = 'bnode' THEN url || obj_value
                   ELSE obj_value END,
              obj_kind, obj_datatype, obj_lang FROM truth)""")

    def expected_rows(self) -> int:
        return self.scalar("SELECT count(*) FROM truth")

    def graph_ok(self, graph_glob: str) -> bool:
        """Canonical graph: one row per distinct triple, and its page
        counts add up to every extracted triple."""
        n, pages = self.db.execute(
            f"SELECT count(*), sum(n_pages) FROM read_parquet("
            f"'{graph_glob}', hive_partitioning = false)").fetchone()
        return (n == self.expected_distinct()
                and pages == self.expected_rows())


# -- the SPARQL mix -----------------------------------------------------------

PREFIX = f"PREFIX schema: <{SCHEMA}>\n"
_WC = SCHEMA + "wordCount"
TOPK = 10

# One serve round's classes, in order.  ``FULL_MIX`` adds the typed top-k
# (ORDER BY on schema:wordCount), which the known lexical-ORDER-BY defect
# answers wrongly; ``BASE_MIX`` is the same mix without it.  Latencies form
# clusters by class (point < topk_typed < optional_lang < agg < star); the
# counts put the median inside the optional_lang cluster, not in a gap
# between two clusters, where it would jump from run to run.
FULL_MIX = ("point", "optional_lang", "star", "point", "optional_lang",
            "agg", "topk_typed", "optional_lang", "point", "star",
            "optional_lang", "agg", "topk_typed")
BASE_MIX = ("point", "optional_lang", "star", "optional_lang", "agg",
            "point", "optional_lang", "star", "optional_lang", "agg")
CLASSES = ("point", "star", "agg", "optional_lang", "topk_typed")


class Query:
    """One seeded query: its SPARQL text, its DuckDB oracle, and how the
    two answers are compared."""

    def __init__(self, cls: str, sparql: str, sql: str):
        self.cls, self.sparql, self.sql = cls, sparql, sql

    def check(self, truth: Truth, got: list[tuple]) -> str:
        """'ok', 'wrong' or 'known_defect'."""
        want = truth.db.execute(self.sql).fetchall()
        if self.cls != "topk_typed":
            return "ok" if Counter(got) == Counter(want) else "wrong"
        return self._check_topk(truth, got, want)

    def _check_topk(self, truth: Truth, got, want) -> str:
        try:
            values = [int(wc) for _, wc in got]
        except (TypeError, ValueError):  # not an xsd:integer lexical form
            return "wrong"
        pairs_ok = all(truth.scalar(
            f"SELECT count(*) FROM truth WHERE subj = '{s}' AND pred = "
            f"'{_WC}' AND obj_value = '{wc}'") for s, wc in got)
        if (pairs_ok and values == sorted(values, reverse=True)
                and Counter(values) == Counter(int(wc) for _, wc in want)):
            return "ok"
        lexical = truth.db.execute(
            f"SELECT obj_value FROM truth WHERE pred = '{_WC}' "
            f"ORDER BY obj_value DESC LIMIT {TOPK}").fetchall()
        if pairs_ok and Counter(wc for _, wc in got) == Counter(
                v for (v,) in lexical):
            return "known_defect"
        return "wrong"


def make_query(cls: str, param) -> Query:
    """``param``: a page url (point), a source name (star), a language
    (agg), a (source, language) pair (optional_lang), None (topk_typed)."""
    if cls == "point":
        s = param + "#it"
        return Query(cls, f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}",
                     f"SELECT pred, obj_value FROM truth WHERE subj = '{s}'")
    if cls == "star":
        src = SOURCE_PREFIX + param
        return Query(cls, PREFIX + f"""SELECT ?s ?name ?wc ?d WHERE {{
            ?s a schema:Article ; schema:isPartOf <{src}> ;
               schema:name ?name ; schema:wordCount ?wc ;
               schema:dateCreated ?d }}""", f"""
            SELECT a.subj, n.obj_value, w.obj_value, d.obj_value
            FROM truth a JOIN truth p ON p.subj = a.subj
              JOIN truth n ON n.subj = a.subj JOIN truth w ON w.subj = a.subj
              JOIN truth d ON d.subj = a.subj
            WHERE a.pred = '{RDF_TYPE}' AND a.obj_value =
                  '{SCHEMA}Article' AND a.obj_kind = 'iri'
              AND p.pred = '{SCHEMA}isPartOf' AND p.obj_value = '{src}'
              AND p.obj_kind = 'iri'
              AND n.pred = '{SCHEMA}name' AND w.pred = '{_WC}'
              AND d.pred = '{SCHEMA}dateCreated'""")
    if cls == "agg":
        lang = param
        return Query(cls, PREFIX + f"""SELECT ?src (COUNT(?s) AS ?n) WHERE {{
            ?s schema:isPartOf ?src . ?s schema:name ?name .
            FILTER(lang(?name) = "{lang}") }} GROUP BY ?src""", f"""
            SELECT p.obj_value, count(*) FROM truth p JOIN truth n
              ON n.subj = p.subj
            WHERE p.pred = '{SCHEMA}isPartOf' AND n.pred = '{SCHEMA}name'
              AND n.obj_lang = '{lang}' GROUP BY p.obj_value""")
    if cls == "optional_lang":
        src, lang = SOURCE_PREFIX + param[0], param[1]
        return Query(cls, PREFIX + f"""SELECT ?s ?name WHERE {{
            ?s schema:isPartOf <{src}> .
            OPTIONAL {{ ?s schema:name ?name .
                        FILTER(lang(?name) = "{lang}") }} }}""", f"""
            SELECT p.subj, n.obj_value FROM truth p LEFT JOIN truth n
              ON n.subj = p.subj AND n.pred = '{SCHEMA}name'
                 AND n.obj_lang = '{lang}'
            WHERE p.pred = '{SCHEMA}isPartOf' AND p.obj_value = '{src}'
              AND p.obj_kind = 'iri'""")
    if cls == "topk_typed":
        return Query(cls, PREFIX + f"""SELECT ?s ?wc WHERE {{
            ?s schema:wordCount ?wc }} ORDER BY DESC(?wc) LIMIT {TOPK}""",
                     f"SELECT subj, obj_value FROM truth WHERE pred = "
                     f"'{_WC}' ORDER BY CAST(obj_value AS BIGINT) DESC "
                     f"LIMIT {TOPK}")
    raise ValueError(cls)


# Parameter pools: a run of 4 rounds asks each pool entry exactly once, in
# a seeded order, so runs differ in their corpus and not in the questions.
# Sources are named by Zipf rank.
SOURCE_RANKS = (1, 2, 3, 5, 8, 13, 21, 34)
_POOLS = {
    "star": tuple(f"src{r}" for r in SOURCE_RANKS),
    "agg": LANGS + LANGS[:3],
    "optional_lang": tuple((f"src{r}", LANGS[k % len(LANGS)])
                           for k, r in enumerate(SOURCE_RANKS * 2)),
    "topk_typed": (None,),
}


class QueryMix:
    """The seeded query stream of one run, a round at a time."""

    def __init__(self, seed: int, mix: tuple[str, ...], urls: list[str]):
        self.rng = random.Random(f"queries/{seed}")
        self.mix, self.urls = mix, urls
        self.queues: dict[str, list] = {c: [] for c in _POOLS}

    def _param(self, cls: str):
        if cls == "point":
            return self.rng.choice(self.urls)
        queue = self.queues[cls]
        if not queue:
            queue.extend(self.rng.sample(_POOLS[cls], len(_POOLS[cls])))
        return queue.pop()

    def round(self) -> list[Query]:
        return [make_query(c, self._param(c)) for c in self.mix]
