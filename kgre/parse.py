"""Sentence split + deterministic parse stub -> ``sentences`` rows.

Spark analog of the reference's CoreNLP-XML scan (S1, load_data.py:352-396):
one output row per sentence with 1-based tokens (implicit ROOT=0) and the
dependency edge list.  FIXTURES.md §2 schema.

Runs as a single ``mapInPandas`` through the sentence-stage kernel
(``candidates.sentence_stage``: 1 page row -> N sentence rows, Arrow
batches).  The language filter is applied *before* this stage so Catalyst
pushes it into the parquet scan (predicate pushdown — never parse pages we
won't use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kgre import nlp
from kgre.candidates import sentence_as_row, sentence_stage

SENTENCES_SCHEMA = (
    "url string, sent_id int, sent_text string, "
    "tokens array<struct<id:int,word:string,lemma:string,pos:string,"
    "ner:string,norm_ner:string>>, "
    "deps array<struct<type:string,gov:int,dep:int>>"
)
SENTENCE_COLS = ["url", "sent_id", "sent_text", "tokens", "deps"]


def text_sentences(url, text) -> list[dict]:
    """Text source of the sentence-stage kernel: ``nlp.parse_text`` with
    the page url attached to each (freshly built) sentence dict."""
    sents = nlp.parse_text(text)
    for s in sents:
        s["url"] = url
    return sents


def parse_sentences(extracted: DataFrame, lang: str = "en") -> DataFrame:
    """extracted(url, text, lang, ...) -> sentences rows (lang-filtered)."""
    slim = extracted.filter(extracted.lang == lang).select("url", "text")
    return sentence_stage(slim, ("url", "text"), text_sentences,
                          sentence_as_row, SENTENCES_SCHEMA, SENTENCE_COLS)
