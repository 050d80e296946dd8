"""Every public function in the package must be REACHABLE: referenced
by an operator, the catalog, the facade, a tool, or a test — the
round-5 verdict's naive_bayes_quality lesson (shipped code with zero
verification), locked in as a permanent invariant plus direct tests
for the nine functions a round-6 AST sweep found unreferenced."""
from __future__ import annotations

import ast
import json
import os
import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from database_convertor_spark.functions.cleaning import (
    guess_domain,
    normalize_borough_name,
    valid_linkedin_url,
)
from database_convertor_spark.functions.similarity import confidence_ladder
from database_convertor_spark.operators.dedup import (
    drop_exact_duplicates,
    hamming64,
    simhash64,
)
from database_convertor_spark.operators.graph import (
    materialize_edges,
    shared_supplier_pairs,
)
from database_convertor_spark.sources.readers import read_json, read_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "database_convertor_spark")


def test_no_unreferenced_public_functions():
    """AST-sweep invariant: zero public defs with no reference outside
    their own definition anywhere in package + tests + tools + driver
    contract + bench."""
    defs: dict[str, list[str]] = {}
    for root, _, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(root, fn)
            with open(p) as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    if not node.name.startswith("_"):
                        defs.setdefault(node.name, []).append(p)
    texts: dict[str, str] = {}
    scan_roots = [PKG, os.path.join(REPO, "tests"), os.path.join(REPO, "tools")]
    for base in scan_roots:
        for root, _, files in os.walk(base):
            for fn in files:
                if fn.endswith(".py"):
                    p = os.path.join(root, fn)
                    with open(p) as fh:
                        texts[p] = fh.read()
    for extra in ["__spark_entry__.py", "bench.py"]:
        p = os.path.join(REPO, extra)
        with open(p) as fh:
            texts[p] = fh.read()
    dead = []
    for name, places in defs.items():
        pat = re.compile(r"\b%s\b" % re.escape(name))
        refs = 0
        for p, t in texts.items():
            n = len(pat.findall(t))
            if p in places:
                n -= 1  # the def line itself
            refs += max(n, 0)
        if refs == 0:
            dead.append(name)
    assert not dead, f"unreferenced public functions: {sorted(dead)}"


def test_confidence_ladder_caps_and_sums(spark):
    df = spark.createDataFrame([(1,)], "id int").select(
        confidence_ladder(
            F.lit(0.5),
            (F.lit(True), 0.3), (F.lit(False), 0.4), (F.lit(True), 0.5),
        ).alias("capped"),
        confidence_ladder(
            F.lit(0.2), (F.lit(True), 0.3), (F.lit(False), 0.9),
        ).alias("plain"),
    )
    row = df.collect()[0]
    assert row.capped == 1.0          # 0.5+0.3+0.5 capped at 1.0
    assert abs(row.plain - 0.5) < 1e-9


def test_guess_domain_golden(spark):
    rows = (spark.createDataFrame(
        [("Acme Widgets International",),
         ("Initech Ltd",)], "name string")
        .select(guess_domain(F.col("name")).alias("d")).collect())
    assert rows[0].d == "acmewidgetsinternational.com"
    # company suffix stripped by the cleaning chain before the guess
    assert rows[1].d == "initech.com"


def test_normalize_borough_name_golden(spark):
    rows = (spark.createDataFrame(
        [("barking & dagenham",), ("  hammersmith   &  fulham ",)],
        "b string")
        .select(normalize_borough_name(F.col("b")).alias("n")).collect())
    assert rows[0].n == "Barking And Dagenham"
    assert rows[1].n == "Hammersmith And Fulham"


def test_valid_linkedin_url_golden(spark):
    cases = [
        ("https://uk.linkedin.com/in/jane-doe", True),
        ("https://www.linkedin.com/in/jane-doe", True),
        ("http://uk.linkedin.com/in/jane-doe", False),   # not https
        ("https://linkedin.com/in/jane-doe", False),     # no subdomain
        ("https://uk.linkedin.com/company/acme", False),  # not /in/
    ]
    rows = (spark.createDataFrame(cases, "url string, want boolean")
            .select("want", valid_linkedin_url(F.col("url")).alias("got"))
            .collect())
    for r in rows:
        assert r.got == r.want


def test_drop_exact_duplicates_keeps_min_doc_id(spark):
    df = spark.createDataFrame(
        [(3, "same  text"), (1, "SAME text"), (2, "other text")],
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in drop_exact_duplicates(df).collect())
    assert kept == [1, 2]             # min doc_id per fingerprint


def test_simhash64_deterministic_and_locality(spark):
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog " * 3,
          "the quick brown fox jumps over the lazy dogs " * 3,
          "completely unrelated text about spark physical plans")],
        "a string, b string, c string")
    row = df.select(
        hamming64(simhash64(F.col("a")), simhash64(F.col("a"))).alias("aa"),
        hamming64(simhash64(F.col("a")), simhash64(F.col("b"))).alias("ab"),
        hamming64(simhash64(F.col("a")), simhash64(F.col("c"))).alias("ac"),
    ).collect()[0]
    assert row.aa == 0
    assert row.ab < row.ac            # near-dup closer than unrelated


def test_materialize_edges_round_trip(spark, tmp_path):
    li = read_table(spark, "/root/testdata/sf0.001", "lineitem")
    path = str(tmp_path / "edges")
    materialize_edges(li, path, min_shared=3)
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    want = sorted(tuple(r)
                  for r in shared_supplier_pairs(li, 3).collect())
    assert got == want and got


def test_read_json_lines(spark, tmp_path):
    p = tmp_path / "payload.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in [
        {"id": 1, "name": "a"}, {"id": 2, "name": "b"}]))
    df = read_json(spark, str(p), schema="id long, name string")
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]
    assert df.schema.simpleString() == "struct<id:bigint,name:string>"
