"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Run from the repository root.  Checks that

1. the same seed gives byte-identical inputs (pages parquet, recrawl
   deltas, query lists) and another seed does not;
2. the site blocks repeat triples across pages; the oracle flags a
   planted wrong triple, a dropped and a duplicated triple, and a planted
   wrong query answer, accepts relabelled blank nodes, and tells the known
   lexical top-k from other wrong answers;
3. every metric a run prints, untraced and traced, is declared in
   ``BENCHMARK.json`` with the same unit, and nothing declared is missing
   (runs the benchmark briefly in both modes).
"""

from __future__ import annotations

import filecmp
import json
import os
import random
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok   {what}")


def _inputs(seed: int, out: str) -> None:
    t = gen.templated_corpus(seed, 300)
    d = gen.diverse_corpus(seed, 30, 0.05, 0.05)
    gen.write_pages(t.pages, os.path.join(out, "t"), gen.PAGE_FILES)
    gen.write_pages(d.pages, os.path.join(out, "d"), gen.PAGE_FILES)
    gen.write_pages(gen.recrawl_delta(t, seed, 1, 0.02),
                    os.path.join(out, "t"), prefix="recrawl1")
    gen.write_pages(gen.recrawl_delta(d, seed, 1, 0.1),
                    os.path.join(out, "d"), prefix="recrawl1")
    urls = [p.url for p in t.pages]
    with open(os.path.join(out, "queries.txt"), "w") as f:
        for q in oracle.QueryMix(seed, oracle.FULL_MIX, urls).round():
            f.write(q.sparql + "\n" + q.sql + "\n")


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, s), os.path.join(b, s))
        for s in cmp.common_dirs)


def test_seeded_inputs(tmp: str) -> None:
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _inputs(seed, os.path.join(tmp, name))
    check(_same_tree(os.path.join(tmp, "a"), os.path.join(tmp, "b")),
          "same seed gives byte-identical inputs")
    check(not _same_tree(os.path.join(tmp, "a"), os.path.join(tmp, "c")),
          "another seed gives other inputs")


def test_triple_oracle(tmp: str) -> None:
    pages = (gen.templated_corpus(3, 50).pages
             + gen.diverse_corpus(3, 10, 0.1, 0.1).pages)
    truth = oracle.Truth(pages)
    table = gen.truth_table(pages)
    rows = table.to_pylist()

    def wrong(rows_out) -> set[str]:
        path = os.path.join(tmp, f"out{random.random()}.parquet")
        pq.write_table(table.from_pylist(rows_out, schema=table.schema),
                       path)
        return truth.wrong_pages(path)

    check(truth.expected_distinct() < truth.expected_rows(),
          "the site blocks repeat triples across pages")
    check(wrong(rows) == set(), "oracle accepts the true triples")
    relabelled = [dict(r, subj="_:x" + r["subj"]) if r["subj_kind"] ==
                  "bnode" else r for r in rows]
    check(wrong(relabelled) == set(), "oracle accepts relabelled bnodes")
    planted = [dict(r) for r in rows]
    k = next(i for i, r in enumerate(planted) if r["obj_kind"] == "literal")
    planted[k]["obj_value"] += " (planted)"
    check(wrong(planted) == {rows[k]["url"]},
          "oracle flags a planted wrong triple, on its page only")
    check(wrong(rows[:k] + rows[k + 1:]) == {rows[k]["url"]},
          "oracle flags a dropped triple")
    check(wrong(rows + [rows[k]]) == {rows[k]["url"]},
          "oracle flags a duplicated triple")


def test_query_oracle() -> None:
    pages = gen.templated_corpus(5, 400).pages
    truth = oracle.Truth(pages)
    urls = [p.url for p in pages]
    qs = oracle.QueryMix(5, oracle.FULL_MIX, urls).round()
    for q in qs:
        right = truth.db.execute(q.sql).fetchall()
        check(q.check(truth, right) == "ok", f"{q.cls}: true answer is ok")
        if right:
            check(q.check(truth, right[1:]) == "wrong",
                  f"{q.cls}: a missing row is wrong")
            bad = [tuple(v + "x" if isinstance(v, str) else v
                         for v in right[0])] + right[1:]
            check(q.check(truth, bad) == "wrong",
                  f"{q.cls}: a planted wrong value is wrong")
    topk = next(q for q in qs if q.cls == "topk_typed")
    wc = gen.SCHEMA + "wordCount"
    lexical = truth.db.execute(
        f"SELECT subj, obj_value FROM truth WHERE pred = '{wc}' "
        f"ORDER BY obj_value DESC LIMIT {oracle.TOPK}").fetchall()
    check(topk.check(truth, lexical) == "known_defect",
          "topk_typed: the lexical order is the known defect")
    right = truth.db.execute(topk.sql).fetchall()
    check(topk.check(truth, right[::-1]) == "wrong",
          "topk_typed: ascending order is wrong")
    swapped = [(right[0][0], right[-1][1])] + right[1:]
    check(right[0][1] == right[-1][1]
          or topk.check(truth, swapped) == "wrong",
          "topk_typed: a value from another subject is wrong")


def _run(workload: str, trace: int, root: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_metric_names() -> None:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        res = _run(spec["workloads"][0]["name"], trace, root)
        printed = {k: v["unit"] for k, v in res["metrics"].items()}
        check(printed == declared,
              f"--trace {trace} prints exactly the {key} metrics, "
              "with their units")
        check(res["correct"] and res["failed"] == 0,
              f"--trace {trace} run is correct")


def main() -> None:
    with tempfile.TemporaryDirectory(dir=os.getcwd(),
                                     prefix=".perfbench_selftest") as tmp:
        test_seeded_inputs(tmp)
        test_triple_oracle(tmp)
    test_query_oracle()
    test_metric_names()


if __name__ == "__main__":
    main()
