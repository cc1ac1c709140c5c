"""Checkpoint/lineage/resume (plans.lineage) + plan-shape assertions
(plans.explain).  North-rule: restart from checkpoint must complete with
identical triple counts, skipping committed partitions."""

from __future__ import annotations

import glob

import pyspark.sql.functions as F
import pytest

from rdfa_streaming_parser_js_spark.operators.extract import extract_triples
from rdfa_streaming_parser_js_spark.plans.explain import (
    assert_map_only, count_exchanges, has_broadcast_join,
    has_pushed_filter, plan_string, scan_read_schema)
from rdfa_streaming_parser_js_spark.plans.lineage import (
    CheckpointedExtraction, url_bucket)
from rdfa_streaming_parser_js_spark.sources.pages import pages_from_documents

SF_DIR = "/root/testdata/sf0.001"
N_BUCKETS = 8

# A page with no RDFa (zero triples) and one the kernel rejects
# (mutually-cyclic rdfa:copy patterns exhaust the replay stack).
NO_RDFA = b"<html><body><p>plain text, no markup</p></body></html>"
CYCLIC = (b'<html><body prefix="schema: http://schema.org/">'
          b'<div resource="#a" typeof="rdfa:Pattern">'
          b'<link property="rdfa:copy" href="#b"/></div>'
          b'<div resource="#b" typeof="rdfa:Pattern">'
          b'<link property="rdfa:copy" href="#a"/></div>'
          b'<div typeof="schema:Person">'
          b'<link property="rdfa:copy" href="#a"/></div>'
          b'</body></html>')


@pytest.fixture(scope="module")
def pages(spark):
    return pages_from_documents(spark, SF_DIR).cache()


def test_resume_completes_with_identical_counts(spark, pages, tmp_path):
    full = extract_triples(pages)
    expected_total = full.count()

    ck = CheckpointedExtraction(str(tmp_path / "kg"), n_buckets=N_BUCKETS)
    # First attempt "dies" after 1 commit (2 buckets done).
    r1 = ck.run(pages, buckets_per_commit=2, stop_after_commits=1,
                run_id="attempt-1")
    assert r1["commits"] == 1
    assert len(r1["buckets_processed"]) == 2
    done_after_crash = ck.completed_buckets(spark)
    assert done_after_crash == set(r1["buckets_processed"])

    # Restart: processes ONLY the remaining buckets.
    r2 = ck.run(pages, buckets_per_commit=3, run_id="attempt-2")
    assert set(r2["buckets_skipped"]) == done_after_crash
    assert not set(r2["buckets_processed"]) & done_after_crash
    assert ck.completed_buckets(spark) == set(range(N_BUCKETS))

    # Identical output vs single-shot extraction.
    got = ck.triples(spark)
    assert got.count() == expected_total
    key = ["url", "subj", "pred", "obj_value"]
    assert full.select(key).exceptAll(got.select(key)).count() == 0

    # Lineage metrics: every bucket accounted for, totals add up.
    m = ck.metrics(spark).collect()
    assert {r.bucket for r in m} == set(range(N_BUCKETS))
    assert sum(r.n_triples for r in m) == expected_total
    n_pages = pages.count()
    assert sum(r.n_pages for r in m) == n_pages


def test_rerun_is_noop_and_reprocess_is_idempotent(spark, pages, tmp_path):
    ck = CheckpointedExtraction(str(tmp_path / "kg"), n_buckets=4)
    ck.run(pages, buckets_per_commit=4, run_id="a")
    total = ck.triples(spark).count()
    r = ck.run(pages, run_id="b")
    assert r["commits"] == 0 and r["buckets_processed"] == []
    assert ck.triples(spark).count() == total

    # Simulate a lost manifest for bucket 0 (partial data already on
    # disk): dynamic partition overwrite must replace, not duplicate.
    import shutil
    shutil.rmtree(f"{ck.manifest_dir}")
    ck2 = CheckpointedExtraction(ck.out_dir, n_buckets=4)
    ck2.run(pages, buckets_per_commit=4, run_id="c")
    assert ck2.triples(spark).count() == total


def _per_bucket(df):
    return {r.bucket: r.n for r in
            df.groupBy(url_bucket(N_BUCKETS).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")).collect()}


def _manifest_counts(ck, spark):
    return {r.bucket: (r.n_pages, r.n_triples)
            for r in ck.manifest(spark).collect()}


def test_manifest_counts_are_per_bucket(spark, pages, tmp_path):
    """Each bucket's manifest row matches an independent groupBy over the
    pages and over extract_triples; a zero-triple page and a
    kernel-rejected page count as pages and add no triples; and each
    bucket dir holds exactly one data file."""
    odd = spark.createDataFrame(
        [("http://e.org/no-rdfa", bytearray(NO_RDFA), None),
         ("http://e.org/cyclic", bytearray(CYCLIC), None)],
        "url string, html binary, lang string")
    base = pages.select("url", "html", "lang")
    ck = CheckpointedExtraction(str(tmp_path / "kg"), n_buckets=N_BUCKETS)
    ck.run(base.unionByName(odd), buckets_per_commit=3, run_id="a")

    n_pages, n_triples = _per_bucket(base), _per_bucket(extract_triples(base))
    n_odd = _per_bucket(odd)
    assert _manifest_counts(ck, spark) == {
        b: (n_pages.get(b, 0) + n_odd.get(b, 0), n_triples.get(b, 0))
        for b in range(N_BUCKETS)}
    for b in range(N_BUCKETS):
        files = glob.glob(f"{ck.triples_dir}/bucket={b}/*.parquet")
        assert len(files) == 1, (b, files)


def _persisted_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return frozenset(int(k) for k in jmap.keySet().toArray())


def test_run_is_one_job_per_commit_and_caches_nothing(spark, tmp_path):
    """A commit runs the data write (a shuffle-map and a result job under
    AQE) and the manifest write, with no count jobs and no cache left
    behind; a crashed-then-restarted run commits the same manifest
    counts as a single-shot run."""
    corpus = pages_from_documents(spark, SF_DIR)
    sc = spark.sparkContext
    before = _persisted_ids(spark)
    one = CheckpointedExtraction(str(tmp_path / "one"), n_buckets=N_BUCKETS)
    sc.setJobGroup("lineage-run", "single-shot checkpointed run")
    try:
        r = one.run(corpus, buckets_per_commit=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r["commits"] == 3
    jobs = sc.statusTracker().getJobIdsForGroup("lineage-run")
    # +1: the manifest lookup before the first commit
    assert len(jobs) <= 3 * r["commits"] + 1, jobs
    assert not _persisted_ids(spark) - before

    two = CheckpointedExtraction(str(tmp_path / "two"), n_buckets=N_BUCKETS)
    two.run(corpus, buckets_per_commit=3, stop_after_commits=1)
    assert len(_manifest_counts(two, spark)) == 3
    two.run(corpus, buckets_per_commit=3)
    assert _manifest_counts(two, spark) == _manifest_counts(one, spark)


def test_extraction_plan_is_map_only(spark, pages):
    assert_map_only(extract_triples(pages))
    assert count_exchanges(extract_triples(pages)) == 0


def test_canonicalize_is_single_shuffle(spark, pages):
    from rdfa_streaming_parser_js_spark.operators.canonicalize import (
        canonicalize_triples)
    # distinct-with-provenance must be ONE exchange (partial agg before)
    assert count_exchanges(canonicalize_triples(
        extract_triples(pages))) == 1


def test_pages_scan_prunes_columns(spark):
    # extract_triples must not drag unused document columns into the scan.
    triples = extract_triples(pages_from_documents(spark, SF_DIR))
    schemas = scan_read_schema(triples)
    assert schemas, "no ReadSchema in plan"
    assert all("n_chars" not in s for s in schemas), schemas


def test_nation_join_broadcasts(spark):
    import __spark_entry__ as e
    assert has_broadcast_join(e.q_join_revenue_by_nation(spark, SF_DIR))


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") < 24).select("l_orderkey")
    assert has_pushed_filter(q, "l_quantity"), plan_string(q)
