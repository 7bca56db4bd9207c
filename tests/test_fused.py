"""r6 fusion guards: the single-crossing documents->candidates stage must
equal the two-stage pages path exactly, and the render->extract identity
the fusion relies on must hold on the derived corpus."""

import pytest
from pyspark.sql import functions as F

from kgre import synthgen
from kgre.extract import extract_text_from_html
from kgre.pipeline import documents_to_candidates, pages_to_candidates
from kgre.session import get_spark
from kgre.webtext import doc_to_page, page_text, pages_from_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-fused", master="local[4]", shuffle_partitions=8)
    yield s


def test_page_text_matches_doc_to_page(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200).collect()
    for r in docs:
        page = doc_to_page(int(r["doc_id"]), r["text"], r["lang"])
        assert page_text(int(r["doc_id"]), r["text"]) == page["text"]


def test_render_extract_is_identity_on_corpus(spark):
    """extract(render(t)) == t for every derived page text — the identity
    the fused stage exploits (it falls back to render+extract when the
    text contains the article close tag)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    for r in docs:
        page = doc_to_page(int(r["doc_id"]), r["text"], r["lang"])
        assert extract_text_from_html(page["html"]) == page["text"]


def test_fused_candidates_equal_two_stage(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    stop = synthgen.stop_entity_ids()
    two = pages_to_candidates(pages_from_documents(docs, lang="en"),
                              "GENE", "ONTOLOGY", stop)
    fused = documents_to_candidates(docs, "GENE", "ONTOLOGY", stop)
    cols = two.columns
    assert fused.columns == cols
    a = sorted(tuple(r) for r in two.collect())
    b = sorted(tuple(r) for r in fused.collect())
    assert a == b
    # slim variant: same rows, sentence columns dropped
    slim = documents_to_candidates(docs, "GENE", "ONTOLOGY", stop,
                                   with_sentence=False)
    keep = [c for c in cols if c not in ("sent_text", "start_tok",
                                         "end_tok")]
    assert slim.columns == keep
    idx = [cols.index(c) for c in keep]
    a_slim = sorted(tuple(t[i] for i in idx) for t in a)
    assert sorted(tuple(r) for r in slim.collect()) == a_slim


def test_fused_respects_stop_and_allowlists(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 100)
    stop = synthgen.stop_entity_ids()
    allow1 = ["G%05d" % k for k in range(1, 40)]
    allow2 = ["GO:%07d" % k for k in range(1, 30)]
    two = pages_to_candidates(pages_from_documents(docs, lang="en"),
                              "GENE", "ONTOLOGY", stop,
                              allow1=allow1, allow2=allow2)
    fused = documents_to_candidates(docs, "GENE", "ONTOLOGY", stop,
                                    allow1=allow1, allow2=allow2)
    assert (sorted(tuple(r) for r in two.collect())
            == sorted(tuple(r) for r in fused.collect()))


def _html(text):
    return synthgen.HTML_TEMPLATE.format(title="t", text=text,
                                         footer=0).encode("utf-8")


# qualifying sentences after non-qualifying ones, and a VGENE token (NER
# HUMAN_GENE|VIRUS_GENE) that qualifies only through its second key
_SCREENED_TEXTS = [
    "the cell binds . GENE12 regulates growth . GENE12 binds GO345 in "
    "the cell . GO7 is a site .",
    "GO9 and GO10 . VGENE4 binds GENE5 . VGENE4 regulates GO11 via "
    "GENE5 .",
    "data model . VGENE8 VGENE8 alters GO3 . growth factor . GENE2 and "
    "GO3 and GENE6 .",
]


def _screened_pages(spark):
    """40 generated pages plus the hand-written ``_SCREENED_TEXTS``."""
    rows = [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
            for p in synthgen.gen_pages_rows(40)]
    ts = rows[0][1]
    rows += [("https://screen.example/p%d" % i, ts, _html(t), t, "en")
             for i, t in enumerate(_SCREENED_TEXTS)]
    return spark.createDataFrame(rows, schema=synthgen.PAGES_SCHEMA)


def test_pages_mentions_equal_two_stage(spark):
    """The fused pages -> mentions stage, which drops sentences without
    both entity types before parsing them, equals parse_sentences
    (every sentence parsed) chained into sentences_to_mentions, as
    multisets."""
    from kgre.parse import parse_sentences
    from kgre.pipeline import pages_to_mentions, sentences_to_mentions

    pages = _screened_pages(spark)
    sents = parse_sentences(pages).cache()
    for ea in ("HUMAN_GENE", "VIRUS_GENE"):
        fused = pages_to_mentions(pages, ea, "ONTOLOGY")
        two = sentences_to_mentions(sents, ea, "ONTOLOGY")
        a = sorted(tuple(r) for r in fused.collect())
        assert a == sorted(tuple(r) for r in two.collect())
        assert {r[1] for r in a} == {"e1", "e2"}
    sents.unpersist()


def test_pages_candidates_equal_two_stage(spark):
    """The fused pages -> candidates stage equals the unfiltered chain
    candidates_from_sentences(parse_sentences(pages)), as multisets."""
    from kgre.candidates import candidates_from_sentences
    from kgre.parse import parse_sentences

    pages = _screened_pages(spark)
    sents = parse_sentences(pages).cache()
    stop = synthgen.stop_entity_ids()
    for ea, hand in (("GENE", (0, 1, 2)), ("VIRUS_GENE", (1, 2))):
        fused = pages_to_candidates(pages, ea, "ONTOLOGY", stop)
        two = candidates_from_sentences(sents, ea, "ONTOLOGY", stop)
        assert fused.columns == two.columns
        a = sorted(tuple(r) for r in fused.collect())
        assert a == sorted(tuple(r) for r in two.collect())
        urls = {r[0] for r in a}
        assert {"https://screen.example/p%d" % i for i in hand} <= urls
    sents.unpersist()


def test_page_source_parses_only_sentences_with_both_types(spark,
                                                           monkeypatch):
    """The html page source of pages_to_candidates tags words first and
    tokenizes / builds edges only for a sentence holding both entity
    types; sent_id still counts the dropped sentences."""
    from kgre import nlp, pipeline

    stage = {}

    def capture(df, in_cols, source, emit, schema, cols=None):
        stage.update(source=source, emit=emit)
        return df

    monkeypatch.setattr(pipeline, "sentence_stage", capture)
    pages = spark.createDataFrame(
        [("u", b"", "en")], "url string, html binary, lang string")
    pipeline.pages_to_candidates(pages, "GENE", "ONTOLOGY", [])

    calls = {"tokenize": 0, "build_deps": 0}

    def counted(name):
        fn = getattr(nlp, name)

        def wrapper(*args):
            calls[name] += 1
            return fn(*args)
        return wrapper

    for name in calls:
        monkeypatch.setattr(nlp, name, counted(name))
    html = _html("the cell binds . GENE12 regulates growth . "
                 "GENE12 binds GO345 in the cell .")
    sents = list(stage["source"]("u", html))
    rows = [r for s in sents for r in stage["emit"](s)]
    assert calls == {"tokenize": 1, "build_deps": 1}
    assert [s["sent_id"] for s in sents] == [2]
    assert rows and {r["sent_id"] for r in rows} == {2}


def test_empty_python_batches_yield_no_rows(spark, tmp_path):
    """Inputs where every Python batch yields zero sentences: each ingest
    path returns an empty result instead of failing to convert an empty
    frame to Arrow."""
    from kgre.corenlp import read_corenlp_xml
    from kgre.parse import parse_sentences
    from kgre.pipeline import pages_to_mentions

    texts = spark.createDataFrame(
        [("u1", "   ", "en"), ("u2", "...", "en")],
        "url string, text string, lang string")
    assert parse_sentences(texts).count() == 0
    pages = spark.createDataFrame(
        [("u1", b"<html><body>no article</body></html>", "en"),
         ("u2", b"<article><p> . . </p></article>", "en"),
         ("u3", b"", "en")],
        "url string, html binary, lang string")
    stop = synthgen.stop_entity_ids()
    assert pages_to_candidates(pages, "GENE", "ONTOLOGY", stop).count() == 0
    assert pages_to_mentions(pages, "GENE", "ONTOLOGY").count() == 0
    (tmp_path / "empty.txt").write_bytes(
        b"<root><document><sentences/></document></root>")
    assert read_corenlp_xml(spark, str(tmp_path)).count() == 0
