"""Operator correctness vs independent oracles (DuckDB / numpy / pure
Python) at sf0.001 — the fast layer under tools/check_oracles.py."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_duplicates_clusters(docs):
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        exact_duplicates)
    rows = exact_duplicates(docs).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    by_fp: dict[str, list] = {}
    for r in rows:
        by_fp.setdefault(r.fingerprint, []).append(r)
    assert len(rows) == len(texts)
    for members in by_fp.values():
        norms = {" ".join(texts[m.id].lower().split()) for m in members}
        assert len(norms) == 1  # same cluster ⇒ same normalized text
        ranks = sorted(m.dup_rank for m in members)
        assert ranks == list(range(1, len(members) + 1))
        canonical = min(m.id for m in members)
        for m in members:
            assert m.is_duplicate == (m.id != canonical)


def test_ngram_jaccard_against_python(docs):
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        ngram_jaccard_pairs)
    got = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}

    def shingles(t):
        toks = t.split(" ")
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sh = {r.doc_id: shingles(r.text) for r in docs.collect()}
    expected = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            j = round(inter / (len(sh[a]) + len(sh[b]) - inter), 6)
            if j >= 0.5:
                expected[(a, b)] = j
    assert got == expected


def test_minhash_estimates_jaccard(docs):
    """MinHash signature agreement ≈ true Jaccard for known near-dups."""
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        minhash_signatures, ngram_jaccard_pairs)
    sigs = {r.id: r.sig
            for r in minhash_signatures(docs, num_hashes=64).collect()}
    true_pairs = ngram_jaccard_pairs(docs, threshold=0.7).collect()
    assert true_pairs, "corpus should contain near-duplicates"
    for p in true_pairs:
        a, b = sigs[p.id_a], sigs[p.id_b]
        est = sum(x == y for x, y in zip(a, b)) / len(a)
        assert abs(est - p.jaccard) < 0.3


def test_lsh_recalls_high_jaccard_pairs(docs):
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        minhash_lsh_candidates, ngram_jaccard_pairs)
    cand = {(r.id_a, r.id_b)
            for r in minhash_lsh_candidates(docs).collect()}
    strong = {(r.id_a, r.id_b)
              for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()}
    assert strong, "corpus should contain strong near-duplicates"
    assert strong <= cand  # high-sim pairs must be recalled


def test_simhash_hamming_close_for_duplicates(docs):
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        ngram_jaccard_pairs, simhash64)
    sh = {r.id: r.simhash for r in simhash64(docs).collect()}
    dups = ngram_jaccard_pairs(docs, threshold=0.9).collect()
    assert dups
    for p in dups:
        ham = bin((sh[p.id_a] ^ sh[p.id_b]) & (2**64 - 1)).count("1")
        assert ham <= 12, (p, ham)


def test_cosine_topk_vs_numpy(emb):
    from rdfa_streaming_parser_js_spark.operators.similarity import (
        cosine_topk)
    rows = emb.select("vec_id", "embedding").collect()
    mat = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = mat[0]
    cos = {i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
           for i, v in mat.items()}
    expected = sorted(cos, key=lambda i: (-round(cos[i], 5), i))[:10]
    got = cosine_topk(emb, list(mat[0]), k=10).collect()
    assert [r.vec_id for r in got] == expected
    for r in got:
        assert abs(r.cosine - cos[r.vec_id]) < 1e-4


def test_ivf_topk_subset_of_cell(emb):
    from rdfa_streaming_parser_js_spark.operators.similarity import ivf_topk
    row = emb.filter("vec_id = 0").head()
    got = ivf_topk(emb, [float(x) for x in row.embedding],
                   int(row.label), k=5).collect()
    cell_ids = {r.vec_id for r in
                emb.filter(F.col("label") == row.label).collect()}
    assert {r.vec_id for r in got} <= cell_ids
    assert got[0].vec_id == 0 and got[0].cosine == pytest.approx(1.0)


def test_entity_link_against_python(docs, spark):
    from rdfa_streaming_parser_js_spark.operators.entity_link import (
        DEFAULT_ENTITY_NAMES, best_entity_per_doc, entity_dictionary)
    got = {r.id: (r.name, r.n_mentions)
           for r in best_entity_per_doc(docs,
                                        entity_dictionary(spark)).collect()}
    ents = set(DEFAULT_ENTITY_NAMES)
    for r in docs.collect():
        counts: dict[str, int] = {}
        for tok in r.text.split(" "):
            if tok in ents:
                counts[tok] = counts.get(tok, 0) + 1
        if not counts:
            assert r.doc_id not in got
            continue
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert got[r.doc_id] == best


def test_text_functions_vs_duckdb(docs, sf_dir):
    from rdfa_streaming_parser_js_spark.functions.text import (
        bpe_ish_token_count, doc_fingerprint)
    got = {r.doc_id: (r.n, r.fp) for r in docs.select(
        "doc_id", bpe_ish_token_count(F.col("text")).alias("n"),
        doc_fingerprint(F.col("text")).alias("fp")).collect()}
    con = duckdb.connect()
    exp = con.sql(rf"""
        SELECT doc_id,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')),
               md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
        FROM '{sf_dir}/documents.parquet'""").fetchall()
    for doc_id, n, fp in exp:
        assert got[doc_id] == (n, fp)


def test_salted_counts_match_plain_groupby(spark, sf_dir):
    from rdfa_streaming_parser_js_spark.operators.canonicalize import (
        hub_subjects, salted_object_counts)
    from rdfa_streaming_parser_js_spark.operators.extract import (
        extract_triples)
    from rdfa_streaming_parser_js_spark.sources.pages import (
        pages_from_documents)
    triples = extract_triples(
        pages_from_documents(spark, sf_dir)).cache()
    hot = hub_subjects(triples, k=5)
    salted = {(r.obj_value, r.n_triples)
              for r in salted_object_counts(triples, hot).collect()}
    plain = {(r.obj_value, r["count"])
             for r in triples.groupBy("obj_value").count().collect()}
    assert salted == plain


def test_salted_groupby_splits_synthetic_hub(spark):
    """Skew guard at amplified skew: one object owns 50% of all triples;
    the salted aggregation must (a) keep the classic two-exchange
    salt-and-merge plan and (b) genuinely spread the hub across the
    salt buckets so no single partial group re-creates the hot key."""
    import pyspark.sql.functions as F
    from rdfa_streaming_parser_js_spark.operators.canonicalize import (
        salted_object_counts)
    from rdfa_streaming_parser_js_spark.plans.explain import (
        count_exchanges, plan_string)
    n_hub = 400
    rows = ([(f"http://e.org/s/{i}", "http://e.org/p", "http://e.org/HUB")
             for i in range(n_hub)]
            + [(f"http://e.org/s/{i}", "http://e.org/p",
                f"http://e.org/o/{i % 80}") for i in range(n_hub)])
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string")
    hot = spark.createDataFrame([("http://e.org/HUB",)], "subj string")
    out = salted_object_counts(t, hot, salt_buckets=16)
    # exactly two aggregation exchanges: partial on (obj_value, salt),
    # merge on obj_value (the hot-list join itself broadcasts).
    # Asserted BEFORE executing: after a collect, AQE's explain prints
    # Final + Initial plans and every exchange would count twice.
    assert count_exchanges(out) == 2
    assert "salt" in plan_string(out)
    got = {r.obj_value: r.n_triples for r in out.collect()}
    assert got["http://e.org/HUB"] == n_hub
    # the hub's 400 distinct subjects land in nearly all 16 salt buckets
    # and no partial group holds more than 3x the fair share —
    # deterministic (xxhash64), so this cannot flake
    per_salt = (t.filter(F.col("obj_value") == "http://e.org/HUB")
                .groupBy(F.pmod(F.xxhash64("subj"), F.lit(16))
                         .alias("salt"))
                .count().collect())
    assert len(per_salt) >= 12
    assert max(r["count"] for r in per_salt) <= 3 * n_hub / 16


# -- regression tests from code review ------------------------------------

def test_ppjoin_high_threshold_exact(spark):
    """threshold=0.9 prefix length must not be float-truncated: doc B =
    doc A minus its rarest shingle has J=9/10 and must be found."""
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        ngram_jaccard_pairs)
    words = [f"w{i}" for i in range(12)]  # 12 tokens -> 10 3-gram shingles
    a = " ".join(words)
    b = " ".join(words[1:])  # drops exactly one shingle -> J = 9/10
    docs = spark.createDataFrame([(1, a), (2, b), (3, "x y z q r s")],
                                 "doc_id long, text string")
    got = {(r.id_a, r.id_b, r.jaccard) for r in
           ngram_jaccard_pairs(docs, threshold=0.9).collect()}
    assert got == {(1, 2, 0.9)}


def test_simhash_banding_recall_matches_bruteforce(spark):
    """Band blocking must be recall-exact for the requested max_hamming
    (h+1 bands, pigeonhole) — compare against the all-pairs answer."""
    import pyspark.sql.functions as F
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        simhash64, simhash_near_pairs)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(60)
    for h in (3, 8, 17):
        banded = {(r.id_a, r.id_b, r.hamming) for r in
                  simhash_near_pairs(docs, max_hamming=h).collect()}
        sig = simhash64(docs)
        brute = (sig.alias("a").crossJoin(sig.alias("b"))
                 .filter(F.col("a.id") < F.col("b.id"))
                 .select(F.col("a.id").alias("id_a"),
                         F.col("b.id").alias("id_b"),
                         F.bit_count(F.col("a.simhash")
                                     .bitwiseXOR(F.col("b.simhash")))
                         .cast("int").alias("hamming"))
                 .filter(F.col("hamming") <= h))
        assert banded == {(r.id_a, r.id_b, r.hamming)
                          for r in brute.collect()}


def test_multimodal_null_text_safe(spark):
    from rdfa_streaming_parser_js_spark.operators.multimodal import (
        decode_media_meta, synthesize_media)
    docs = spark.createDataFrame([(0, None), (1, "some text")],
                                 "doc_id long, text string")
    rows = {r.media_id: r for r in
            decode_media_meta(synthesize_media(docs)).collect()}
    assert rows[0].body_bytes == 0 and rows[0].width == 64
    assert rows[1].body_bytes == len("some text")


def test_lineage_empty_corpus(spark, tmp_path):
    from rdfa_streaming_parser_js_spark.plans.lineage import (
        CheckpointedExtraction)
    empty = spark.createDataFrame(
        [], "url string, html binary, lang string")
    ck = CheckpointedExtraction(str(tmp_path / "kg"), n_buckets=4)
    r = ck.run(empty, buckets_per_commit=2, run_id="e")
    assert r["commits"] == 2
    assert ck.completed_buckets(spark) == {0, 1, 2, 3}
    assert ck.triples(spark).count() == 0
    m = ck.metrics(spark).collect()
    assert len(m) == 4
    assert all(row.n_pages == 0 and row.n_triples == 0 for row in m)


def test_ntriples_escaping(spark):
    from rdfa_streaming_parser_js_spark.functions.ntriples import (
        ntriples_lines)
    rows = [("http://e.org/p", "http://e.org/s", "iri", "http://e.org/p1",
             'he said "hi"\nback\\slash\ttab', "literal", None, None),
            ("http://e.org/p", "_:abc", "bnode", "http://e.org/p2",
             "v", "literal", None, "en"),
            ("http://e.org/p", "http://e.org/s", "iri", "http://e.org/p3",
             "5", "literal", "http://www.w3.org/2001/XMLSchema#integer",
             None)]
    df = spark.createDataFrame(
        rows, "url string, subj string, subj_kind string, pred string, "
              "obj_value string, obj_kind string, obj_datatype string, "
              "obj_lang string")
    lines = {r.line for r in ntriples_lines(df).collect()}
    assert ('<http://e.org/s> <http://e.org/p1> '
            '"he said \\"hi\\"\\nback\\\\slash\\ttab" .') in lines
    assert '_:abc <http://e.org/p2> "v"@en .' in lines
    assert ('<http://e.org/s> <http://e.org/p3> '
            '"5"^^<http://www.w3.org/2001/XMLSchema#integer> .') in lines


def test_sessionize_single_shuffle_and_gap_semantics(spark):
    import datetime
    import pyspark.sql.functions as F
    from rdfa_streaming_parser_js_spark.operators.sessions import (
        session_stats, sessionize)
    from rdfa_streaming_parser_js_spark.plans.explain import count_exchanges
    t0 = datetime.datetime(2024, 1, 1)
    mins = lambda m: t0 + datetime.timedelta(minutes=m)
    ev = spark.createDataFrame(
        [(1, mins(0), 1.0), (1, mins(10), 2.0), (1, mins(50), 3.0),
         (2, mins(0), 4.0)],
        "user_id long, ts timestamp, value double")
    s = {(r.user_id, r.session_seq): r for r in
         session_stats(ev, gap_minutes=30).collect()}
    assert s[(1, 1)].n_events == 2 and s[(1, 2)].n_events == 1
    assert s[(2, 1)].n_events == 1
    # value sums leave the byte stream as exact integers (milli-units)
    assert s[(1, 1)].sum_value_milli == 3000
    assert s[(2, 1)].sum_value_milli == 4000
    # both windows + the rollup share ONE hash partitioning on user_id
    assert count_exchanges(sessionize(ev)) == 1


def test_connected_components_min_label(spark):
    from rdfa_streaming_parser_js_spark.operators.components import (
        dedup_clusters)
    # chain 1-2-3, pair 10-11, chain forces >1 propagation round
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11), (3, 7)], "id_a long, id_b long")
    got = {r.id: (r.cluster_id, r.is_canonical) for r in
           dedup_clusters(edges).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   7: (1, False), 10: (10, True), 11: (10, False)}


# --- N-Triples reader ------------------------------------------------------

def test_ntriples_roundtrip_rich(spark, sf_dir):
    """serialize → parse is the identity on the rich corpus (bnodes,
    rdf:List cons cells, datatypes, language tags)."""
    from rdfa_streaming_parser_js_spark.functions.ntriples import (
        ntriples_lines, parse_ntriples_lines)
    from rdfa_streaming_parser_js_spark.operators.extract import (
        extract_triples)
    from rdfa_streaming_parser_js_spark.sources.pages import (
        rich_pages_from_documents)
    t = extract_triples(rich_pages_from_documents(spark, sf_dir))
    cols = ["subj", "subj_kind", "pred", "obj_value", "obj_kind",
            "obj_datatype", "obj_lang"]
    back = parse_ntriples_lines(ntriples_lines(t))
    assert (sorted(map(tuple, back.select("url", *cols).collect()))
            == sorted(map(tuple, t.select("url", *cols).collect())))


def test_ntriples_reader_escapes_and_garbage(spark):
    """ECHAR escapes roundtrip byte-exactly; non-grammar lines drop."""
    from rdfa_streaming_parser_js_spark.functions.ntriples import (
        ntriples_lines, parse_ntriples_lines)
    nasty = 'a\\b\t"q"\nc\rd\\n e'  # backslashes, quotes, controls
    t = spark.createDataFrame(
        [("u", "http://s", "iri", "http://p", nasty, "literal",
          None, None),
         ("u", "http://s", "iri", "http://p", "x", "literal",
          None, "en"),
         ("u", "_:b0", "bnode", "http://p", "_:b1", "bnode",
          None, None)],
        "url string, subj string, subj_kind string, pred string, "
        "obj_value string, obj_kind string, obj_datatype string, "
        "obj_lang string")
    lines = ntriples_lines(t)
    plus_garbage = lines.union(spark.createDataFrame(
        [("u", "# a comment"), ("u", ""), ("u", "<s> broken")],
        ["url", "line"]))
    back = parse_ntriples_lines(plus_garbage)
    got = {(r.subj, r.obj_value, r.obj_kind, r.obj_lang)
           for r in back.collect()}
    assert ("http://s", nasty, "literal", None) in got
    assert ("http://s", "x", "literal", "en") in got
    assert ("_:b0", "_:b1", "bnode", None) in got
    assert back.count() == 3  # garbage lines dropped


def test_ntriples_parse_sql_parity(spark, sf_dir):
    """The DuckDB parse fragment produces the same columns as the
    Spark reader over identical serialized lines."""
    import duckdb
    from rdfa_streaming_parser_js_spark.functions.ntriples import (
        NT_LINE_RE, ntriples_lines, parse_ntriples_lines,
        parse_ntriples_sql)
    from rdfa_streaming_parser_js_spark.operators.extract import (
        extract_triples)
    from rdfa_streaming_parser_js_spark.sources.pages import (
        pages_from_documents)
    lines = ntriples_lines(
        extract_triples(pages_from_documents(spark, sf_dir)))
    rows = [(r.line,) for r in lines.collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE nt(line VARCHAR)")
    con.executemany("INSERT INTO nt VALUES (?)", rows)
    want = con.execute(
        f"SELECT {parse_ntriples_sql('line')} FROM nt "
        f"WHERE regexp_matches(line, '{NT_LINE_RE}')").fetchall()
    got = [tuple(r) for r in parse_ntriples_lines(lines.select("line"))
           .collect()]
    assert sorted(got) == sorted(want)


def test_json_graph_nodes_valid_and_escaped(spark):
    import json
    from rdfa_streaming_parser_js_spark.functions.jsonld import (
        json_graph_nodes)
    t = spark.createDataFrame(
        [("s1", "iri", "http://p", 'va"l\\ue', "literal", None, "en"),
         ("s1", "iri", "http://p2", "http://o", "iri", None, None),
         ("s1", "iri", "http://p3", "line1\nline2\r\ttab", "literal",
          None, None),
         ("s2", "iri", "http://p", "x", "literal",
          "http://dt", None)],
        "subj string, subj_kind string, pred string, obj_value string, "
        "obj_kind string, obj_datatype string, obj_lang string")
    got = {r.subj: r.node_json for r in json_graph_nodes(t).collect()}
    d1 = json.loads(got["s1"])  # must be VALID json despite specials
    assert d1["@id"] == "s1" and len(d1["edges"]) == 3
    vals = {e["o"].get("@value", e["o"].get("@id"))
            for e in d1["edges"]}
    assert 'va"l\\ue' in vals and "http://o" in vals
    # control characters in extracted text must round-trip through JSON
    assert "line1\nline2\r\ttab" in vals
    d2 = json.loads(got["s2"])
    assert d2["edges"][0]["o"]["@type"] == "http://dt"


def test_json_graph_nodes_c0_controls_escaped(spark):
    """RFC 8259: every control below 0x20 must be escaped — raw 0x01
    etc. survive HTML extraction into literals (fuzz-found)."""
    import json
    import duckdb
    from rdfa_streaming_parser_js_spark.functions.jsonld import (
        json_graph_nodes, json_graph_nodes_sql)
    nasty = "\x01ctl\x00nul\x1funit"
    t = spark.createDataFrame(
        [("s1", "iri", "http://p", nasty, "literal", None, None)],
        "subj string, subj_kind string, pred string, obj_value string, "
        "obj_kind string, obj_datatype string, obj_lang string")
    node = json_graph_nodes(t).head().node_json
    assert json.loads(node)["edges"][0]["o"]["@value"] == nasty
    assert "\x01" not in node  # escaped, not raw
    # the DuckDB mirror emits byte-identical documents
    con = duckdb.connect()
    con.execute("CREATE TABLE tr(subj VARCHAR, subj_kind VARCHAR, "
                "pred VARCHAR, obj_value VARCHAR, obj_kind VARCHAR, "
                "obj_datatype VARCHAR, obj_lang VARCHAR)")
    con.execute("INSERT INTO tr VALUES ('s1','iri','http://p',"
                "chr(1)||'ctl'||chr(0)||'nul'||chr(31)||'unit',"
                "'literal',NULL,NULL)")
    mirror = con.execute(json_graph_nodes_sql(
        "SELECT * FROM tr")).fetchone()[1]
    assert mirror == node


def test_shingles_short_docs_not_fatal(spark):
    """Documents with fewer than n tokens must yield zero shingles, not
    crash the job (sequence(1, size-(n-1)) runs descending for short
    docs and element_at then reads out of range under ANSI)."""
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        ngram_jaccard_pairs, shingles)
    docs = spark.createDataFrame(
        [(1, "only two"), (2, ""), (3, "three tokens here now ok"),
         (4, "three tokens here now ok")],
        "doc_id long, text string")
    sh = shingles(docs)
    assert sh.filter("id in (1, 2)").count() == 0
    assert sh.filter("id = 3").count() == 3  # 5 tokens → 3 trigrams
    # the full PPJoin pipeline survives the short docs too
    pairs = ngram_jaccard_pairs(docs).collect()
    assert [(p.id_a, p.id_b, p.jaccard) for p in pairs] == [(3, 4, 1.0)]


def test_minhash_bands_must_divide(spark):
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        minhash_lsh_candidates)
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_candidates(docs, num_hashes=32, bands=5)


def test_connected_components_string_ids(spark):
    """Numeric-only min-label CC rejects string ids up front with a
    clear error; dedup_clusters routes string ids (urls/IRIs) to the
    type-agnostic star algorithm instead."""
    from rdfa_streaming_parser_js_spark.operators.components import (
        connected_components, dedup_clusters)
    pairs = spark.createDataFrame(
        [("http://a", "http://b"), ("http://b", "http://c"),
         ("http://x", "http://y")],
        "id_a string, id_b string")
    with pytest.raises(TypeError, match="numeric node ids"):
        connected_components(pairs)
    got = {(r.id, r.cluster_id, r.is_canonical)
           for r in dedup_clusters(pairs).collect()}
    assert got == {
        ("http://a", "http://a", True),
        ("http://b", "http://a", False),
        ("http://c", "http://a", False),
        ("http://x", "http://x", True),
        ("http://y", "http://x", False)}


def test_ntriples_parse_passthrough_collision_dropped(spark):
    from rdfa_streaming_parser_js_spark.functions.ntriples import (
        parse_ntriples_lines)
    lines = spark.createDataFrame(
        [('<http://d/1> <http://p> "v" .', "stale", "keepme")],
        "line string, subj string, extra string")
    out = parse_ntriples_lines(lines)
    assert out.columns.count("subj") == 1
    row = out.head()
    assert row.subj == "http://d/1" and row.extra == "keepme"


def test_json_nodes_roundtrip_nasty_terms(spark):
    """parse_json_nodes(json_graph_nodes(t)) == t for bnodes, typed /
    tagged / plain literals, and escape-hostile text (quotes,
    backslashes, C0 controls, unicode)."""
    from rdfa_streaming_parser_js_spark.functions.jsonld import (
        json_graph_nodes, parse_json_nodes)
    rows = [
        ("s1", "iri", "http://p", 'va"l\\ue', "literal", None, "en"),
        ("s1", "iri", "http://p2", "http://o", "iri", None, None),
        ("s1", "iri", "http://p2", "_:b7", "bnode", None, None),
        ("_:b0", "bnode", "http://p3", "line1\nline2\r\tx\x01\x1f",
         "literal", None, None),
        ("s2", "iri", "http://p", "5", "literal", "http://dt", None),
        ("s2", "iri", "http://p", "naïve – ünïcode", "literal",
         None, None),
        ("s3", "iri", "http://p", "", "literal", None, None),
    ]
    t = spark.createDataFrame(
        rows, "subj string, subj_kind string, pred string, "
              "obj_value string, obj_kind string, obj_datatype string, "
              "obj_lang string")
    back = parse_json_nodes(json_graph_nodes(t)).collect()
    assert sorted(tuple(r) for r in back) == sorted(rows)


def test_parse_json_nodes_drops_malformed(spark):
    from rdfa_streaming_parser_js_spark.functions.jsonld import (
        parse_json_nodes)
    df = spark.createDataFrame(
        [('{"@id":"s","edges":[{"p":"http://p","o":{"@id":"o"}}]}',),
         ("not json at all",), ("42",)], "node_json string")
    got = parse_json_nodes(df).collect()
    assert [(r.subj, r.pred, r.obj_value, r.obj_kind)
            for r in got] == [("s", "http://p", "o", "iri")]


def test_duplicate_spans_winnowing_guarantee(spark):
    """Winnowing is phase-INDEPENDENT: a verbatim repeat of ≥ the
    guarantee length is caught even at different offsets in each
    document (the case stride-grid sampling provably misses);
    unrelated docs yield nothing."""
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        duplicate_spans)
    boiler = " ".join(f"b{i}" for i in range(16))  # = guarantee
    docs = spark.createDataFrame([
        (1, "intro one two " + boiler + " tail x"),   # offset 3
        (2, boiler + " completely different ending"),  # offset 0
        (3, "nothing in common here at all with anything"),
    ], "doc_id long, text string")
    got = duplicate_spans(docs).collect()
    assert got, "phase-shifted 16-token boilerplate must be detected"
    assert all(r.n_docs == 2 for r in got)          # docs 1+2 only
    assert all(r.span_text.split(" ")[0].startswith("b")
               for r in got)
    # short unrelated docs: no duplicates
    none = duplicate_spans(spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )).collect()
    assert none == []


def test_redact_pii_chain(spark):
    """Each detector fires on its own span; ordering protects the
    IPv4 (phone-shaped when long) and the card run (also phone-shaped)
    from the greedy phone rule; clean text passes through verbatim."""
    from pyspark.sql import functions as F
    from rdfa_streaming_parser_js_spark.functions.text import (
        pii_counts, redact_pii)
    rows = [
        ("mail me at jane.doe+spam@sub.example.co.uk today",),
        ("call +1 (555) 867-5309 now",),
        ("server 192.168.100.200 and card 4111 1111 1111 1111",),
        ("perfectly clean text with digits 42 and 1999",),
    ]
    df = spark.createDataFrame(rows, "text string")
    out = df.select(redact_pii(F.col("text")).alias("t"),
                    *[v.alias(k) for k, v in
                      pii_counts(F.col("text")).items()]).collect()
    assert out[0].t == "mail me at <EMAIL> today"
    assert out[1].t == "call <PHONE> now"
    assert out[2].t == "server <IP> and card <CC>"
    assert out[3].t == rows[3][0]
    assert (out[0].n_emails, out[1].n_phones) == (1, 1)
    assert (out[2].n_ips, out[2].n_cards) == (1, 1)
    assert (out[3].n_emails, out[3].n_phones,
            out[3].n_ips, out[3].n_cards) == (0, 0, 0, 0)


def test_redact_pii_matches_duckdb(spark):
    import duckdb
    from pyspark.sql import functions as F
    from rdfa_streaming_parser_js_spark.functions.text import (
        pii_counts_sql, redact_pii, redact_pii_sql)
    rows = [("a@b.io or 10.1.2.3 or +44 20 7946 0958 "
             "or 4111-1111-1111-1234 end",),
            ("nested bob@x.org,carol@y.net pair",)]
    df = spark.createDataFrame(rows, "text string")
    got = [r.t for r in
           df.select(redact_pii(F.col("text")).alias("t")).collect()]
    con = duckdb.connect()
    con.register("tt", df.toPandas())
    sql = (f"SELECT {redact_pii_sql('text')} AS t, "
           + ", ".join(pii_counts_sql("text")) + " FROM tt")
    want = con.sql(sql).fetchall()
    assert got == [w[0] for w in want]


def test_decontaminate_flags_only_leaked_docs(spark):
    """A training doc sharing one 8-gram with the benchmark is dirty
    (counted once despite repetition); disjoint docs are clean; the
    plan probes the benchmark set via a BROADCAST join (the corpus
    grams are never shuffled)."""
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        decontaminate)
    leak = " ".join(f"q{i}" for i in range(8))
    docs = spark.createDataFrame([
        (1, "lead in words " + leak + " then " + leak),  # leaked twice
        (2, "totally disjoint text with no overlap at all ok"),
        (3, "an eval question: " + leak),                # benchmark
    ], "doc_id long, text string")
    bench = docs.filter("doc_id = 3")
    got = {r.id: (r.n_contaminated_ngrams, r.contaminated)
           for r in decontaminate(docs, bench, n=8).collect()}
    assert got[1] == (1, True)      # distinct-gram count, not 2
    assert got[2] == (0, False)
    assert got[3][1] is True        # benchmark member flags itself
    plan = decontaminate(docs, bench, n=8)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_decontaminate_matches_duckdb(spark):
    import duckdb
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        decontaminate, decontaminate_sql)
    leak = " ".join(f"w{i}" for i in range(9))
    docs = spark.createDataFrame(
        [(i, f"doc {i} filler " + (leak if i % 2 == 0 else "clean "
          "words only here nothing shared between documents at all"))
         for i in range(8)] + [(14, "eval set holds " + leak)],
        "doc_id long, text string")
    got = sorted(tuple(r) for r in decontaminate(
        docs, docs.filter("doc_id % 11 = 3"), n=8).collect())
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(map(tuple, con.sql(decontaminate_sql(n=8)).fetchall()))
    assert got == want


def test_duplicate_spans_tie_break_matches_duckdb(spark):
    """Repeated tokens make EQUAL adjacent gram hashes — the
    rightmost-min tie-break must agree between engines."""
    import duckdb
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        duplicate_spans, duplicate_spans_sql)
    rep = " ".join(["batch"] * 30)
    docs = spark.createDataFrame(
        [(1, "x " + rep), (2, rep + " y"), (3, rep)],
        "doc_id long, text string")
    got = {tuple(r) for r in duplicate_spans(docs).collect()}
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = set(map(tuple, con.sql(duplicate_spans_sql()).fetchall()))
    assert got == want and got


from hypothesis import given, settings  # noqa: E402 (fuzz section)
from hypothesis import strategies as st  # noqa: E402


@st.composite
def _docs_with_planted_repeat(draw):
    """Two random docs with a shared verbatim run of ≥ guarantee
    tokens planted at INDEPENDENT offsets (the phase-shift case)."""
    vocab = [f"w{i}" for i in range(12)]
    shared = draw(st.lists(st.sampled_from(vocab), min_size=16,
                           max_size=24))
    pre1 = draw(st.lists(st.sampled_from(vocab), min_size=0,
                         max_size=7))
    pre2 = draw(st.lists(st.sampled_from(vocab), min_size=0,
                         max_size=7))
    suf1 = draw(st.lists(st.sampled_from(vocab), min_size=0,
                         max_size=5))
    suf2 = draw(st.lists(st.sampled_from(vocab), min_size=0,
                         max_size=5))
    return (" ".join(pre1 + shared + suf1),
            " ".join(pre2 + shared + suf2))


@given(_docs_with_planted_repeat())
@settings(max_examples=12, deadline=None)
def test_winnowing_guarantee_fuzz(spark, case):
    """The MOSS guarantee, fuzzed: ANY ≥16-token verbatim repeat at
    arbitrary independent offsets must share at least one anchored
    gram (k=8, w=9 → guarantee 16)."""
    from rdfa_streaming_parser_js_spark.operators.dedup import (
        duplicate_spans)
    t1, t2 = case
    docs = spark.createDataFrame([(1, t1), (2, t2)],
                                 "doc_id long, text string")
    got = duplicate_spans(docs).collect()
    assert any(r.n_docs == 2 for r in got), (t1, t2)


def test_fuzzy_entity_link_against_python(spark):
    """Fuzzy linking vs a nested-loop Python reference: classic
    Levenshtein ≤ 1, per-(doc, entity) counts/min/exact."""
    from rdfa_streaming_parser_js_spark.operators.entity_link import (
        KB_PREFIX, entity_dictionary, fuzzy_link_entities)

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    docs = spark.createDataFrame(
        [(1, "tables tble table zzz"), (2, "sparks spark sprk")],
        "doc_id long, text string")
    names = ("tables", "sparks")
    got = {(r.id, r.name): (r.n_mentions, r.min_edits, r.n_exact)
           for r in fuzzy_link_entities(
               docs, entity_dictionary(spark, names)).collect()}
    expect = {}
    for did, text in [(1, "tables tble table zzz"),
                      (2, "sparks spark sprk")]:
        for n in names:
            hits = [lev(t, n) for t in text.split(" ")
                    if abs(len(t) - len(n)) <= 1 and lev(t, n) <= 1]
            if hits:
                expect[(did, n)] = (len(hits), min(hits),
                                    sum(1 for h in hits if h == 0))
    assert got == expect and (1, "tables") in got


@st.composite
def _fuzzy_corpus(draw):
    # tiny alphabet → dense edit-distance collisions; include empty
    # tokens (split artifacts), duplicate/adjacent-equal chars (dup
    # deletion keys), and names shorter/longer than tokens
    word = st.text(alphabet="abc", min_size=0, max_size=5)
    texts = draw(st.lists(
        st.lists(word, min_size=1, max_size=8).map(" ".join),
        min_size=1, max_size=4))
    names = draw(st.lists(st.text(alphabet="abc", min_size=1,
                                  max_size=5),
                          min_size=1, max_size=4, unique=True))
    return texts, names


@given(_fuzzy_corpus())
@settings(max_examples=15, deadline=None)
def test_fuzzy_link_blocking_equivalence_fuzz(spark, case):
    """The deletion-neighborhood BLOCKED join (max_edits=1) must be
    exactly equivalent to the unblocked O(tokens × gazetteer) nested
    loop — the FastSS completeness guarantee, fuzzed over a collision-
    dense alphabet with empty tokens and repeated characters."""
    from rdfa_streaming_parser_js_spark.operators.entity_link import (
        entity_dictionary, fuzzy_link_entities)

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    texts, names = case
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = {(r.id, r.name): (r.n_mentions, r.min_edits, r.n_exact)
           for r in fuzzy_link_entities(
               docs, entity_dictionary(spark, names)).collect()}
    expect = {}
    for did, text in enumerate(texts):
        for n in names:
            hits = [lev(t, n) for t in text.split(" ") if lev(t, n) <= 1]
            if hits:
                expect[(did, n)] = (len(hits), min(hits),
                                    sum(1 for h in hits if h == 0))
    assert got == expect


def test_fuzzy_link_plan_is_equijoin_blocked(spark):
    """Scale gate: the default fuzzy-link plan must generate candidates
    with an EQUI-join on the deletion key (BroadcastHashJoin), not a
    BroadcastNestedLoopJoin evaluating Levenshtein per (token, name)
    pair — edit distance may only run AFTER blocking."""
    from rdfa_streaming_parser_js_spark.operators.entity_link import (
        entity_dictionary, fuzzy_link_entities)
    docs = spark.createDataFrame([(1, "tables tble")],
                                 "doc_id long, text string")
    plan = fuzzy_link_entities(
        docs, entity_dictionary(spark, ("tables",)))._jdf \
        .queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
