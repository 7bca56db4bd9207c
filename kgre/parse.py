"""Sentence split + deterministic parse stub -> ``sentences`` rows, and
the text source of the fused ingest stages.

Spark analog of the reference's CoreNLP-XML scan (S1, load_data.py:352-396):
``parse_sentences`` yields one output row per sentence — every sentence —
with 1-based tokens (implicit ROOT=0) and the dependency edge list.
FIXTURES.md §2 schema.

Runs as a single ``mapInPandas`` through the sentence-stage kernel
(``candidates.sentence_stage``: 1 page row -> N sentence rows, Arrow
batches).  The language filter is applied *before* this stage so Catalyst
pushes it into the parquet scan (predicate pushdown — never parse pages we
won't use).

``text_sentences`` is also the text source of the fused html-page and
document stages (pipeline.py).  There it gets the emitter's two entity
types and applies the reference's both-types sentence filter (F2,
sentence_structure.py:134, load_data.py:392-393) BEFORE the parse: each
word is tagged by the cached ``nlp.tag_word``, and only a sentence whose
NER keys hold both types is tokenized and given dependency edges — the
sentences the filter drops (most of a long boilerplate page) cost a
split and a tag lookup per word.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kgre import nlp
from kgre.candidates import (both_types_present, sentence_as_row,
                             sentence_stage)

SENTENCES_SCHEMA = (
    "url string, sent_id int, sent_text string, "
    "tokens array<struct<id:int,word:string,lemma:string,pos:string,"
    "ner:string,norm_ner:string>>, "
    "deps array<struct<type:string,gov:int,dep:int>>"
)
SENTENCE_COLS = ["url", "sent_id", "sent_text", "tokens", "deps"]


def text_sentences(url, text, types=None) -> list[dict]:
    """Text source of the sentence-stage kernel: the text split into
    sentences, each parsed (``nlp.parse_sentence``) with the page url
    attached.  ``types=(entity_a, entity_b)`` applies the F2 filter
    before the parse: a sentence whose tagged NER keys lack either type
    is never tokenized nor given edges and yields nothing; ``sent_id``
    still counts every sentence."""
    out = []
    for sid, sent in enumerate(nlp.split_sentences(text)):
        if types is None or both_types_present(nlp.ner_keys(sent), *types):
            s = nlp.parse_sentence(sid, sent)
            s["url"] = url
            out.append(s)
    return out


def parse_sentences(extracted: DataFrame, lang: str = "en") -> DataFrame:
    """extracted(url, text, lang, ...) -> sentences rows (lang-filtered)."""
    slim = extracted.filter(extracted.lang == lang).select("url", "text")
    return sentence_stage(slim, ("url", "text"), text_sentences,
                          sentence_as_row, SENTENCES_SCHEMA, SENTENCE_COLS)
