"""The benchmark's input generators recover their gold exactly.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import os

import pytest

import gen


@pytest.fixture(scope="module")
def spark():
    from remediner_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cores=2)
    yield s
    s.stop()


def _pr(spark, triples, ann) -> tuple[float, float]:
    from remediner_spark.gold import gold_triples
    from remediner_spark.metrics import triple_precision_recall

    pr = triple_precision_recall(
        triples.filter("pred = 'CAUSES'"),
        spark.createDataFrame(gold_triples(ann)),
    )
    assert pr["n_gold"] > 0
    return pr["precision"], pr["recall"]


def test_wide_terms_are_substring_free():
    drugs, effects = gen.wide_lexicons(3, 400, 400)
    terms = drugs + effects
    assert len(set(terms)) == len(terms) == 800
    words = [w for t in terms for w in t.split()]
    assert len(set(words)) == len(words)
    surfaces = terms + [gen.typo_surface(d) for d in drugs]
    for t in surfaces:
        assert t not in gen._PROSE
    # a word inside another surface would move a first-occurrence span
    joined = "\n".join(surfaces)
    for w in set(words):
        assert joined.count(w) == sum(s.split().count(w) for s in surfaces)


def test_linked_wide_corpus_gold_recovered(spark, tmp_path):
    from remediner_spark.operators.linkgraph import extract_outlinks
    from remediner_spark.operators.ner import (
        GazetteerTagger,
        extract_triples_stage,
    )
    from remediner_spark.operators.text import (
        extraction_mismatch_count,
        filter_language,
    )

    w = gen.wide_corpus(400, 5, n_drugs=300, n_effects=300)
    ann = w["annotations"]
    assert ann["drug"].nunique() > 100
    dictionary = w["dictionary"]
    typos = {gen.typo_surface(d) for d in w["tagger_drugs"][:300]}
    assert not typos & set(dictionary["alias"])
    assert dictionary["canonical_id"].nunique() < 600
    gen.with_outlinks(w["pages"]).to_parquet(
        tmp_path / "pages.parquet", index=False
    )
    bc = spark.sparkContext.broadcast(
        GazetteerTagger(w["tagger_drugs"], w["tagger_effects"])
    )
    pages = filter_language(spark.read.parquet(str(tmp_path / "pages.parquet")))
    assert extraction_mismatch_count(pages) == 0
    assert extract_outlinks(pages).count() >= pages.count()
    triples = extract_triples_stage(pages, bc, extract_html=True)
    assert _pr(spark, triples, ann) == (1.0, 1.0)


def test_stream_files_gold_recovered(spark, tmp_path):
    from remediner_spark.plans.pipeline import default_tagger_bc
    from remediner_spark.streaming import stream_triples

    pages, ann = gen.narrow_corpus(400, 7)
    paths = gen.write_page_files(pages, str(tmp_path / "stream"), 5, seed=7)
    assert [os.path.basename(p) for p in paths] == sorted(
        os.listdir(tmp_path / "stream")
    )
    q = stream_triples(
        spark, str(tmp_path / "stream"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), default_tagger_bc(spark),
    )
    q.awaitTermination(120)
    assert _pr(spark, spark.read.parquet(str(tmp_path / "out")), ann) == (1.0, 1.0)

