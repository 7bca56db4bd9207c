"""Deterministic tokenizer / NER tagger / dependency-parser stub.

The reference consumes Stanford-CoreNLP XML (reference
``load_data.py:352-396``).  CoreNLP is not available (and not the point):
per SURVEY.md §7.0 the heavyweight parser is replaced by a deterministic,
self-contained stub that BOTH the Spark pipeline and the single-process
oracle consume, so the parity target measures the downstream transforms
(chunking, pair generation, SDP features, labeling, scoring) bit-for-bit
on an agreed parsed representation.

Conventions carried from the reference:
  * token ids are 1-based; ROOT is the implicit token 0
    (``sentence_structure.py:80-81``)
  * ``ner`` / ``norm_ner`` may be pipe-delimited multi-valued strings
    (``sentence_structure.py:91``); ``norm_ner`` is None for non-entities
  * dependencies are (type, governor_id, dependent_id) triples in a
    defined order — matrix fill order matters for the reverse-edge
    overwrite rule (``sentence_structure.py:177-186``)

Surface-form grammar recognized by the tagger (what synthgen emits):
  * ``GENE<k>``   -> ner ``HUMAN_GENE``            norm ``G<k:05d>``
  * ``VGENE<k>``  -> ner ``HUMAN_GENE|VIRUS_GENE`` norm ``G<k:05d>|V<k:05d>``
  * ``GO<k>``     -> ner ``ONTOLOGY``              norm ``GO:<k:07d>``
  * anything else -> ner ``O``                     norm None
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np

from kgre.util import h48, hrange, hseq_mat

_GENE_RE = re.compile(r"^GENE([0-9]+)$")
_VGENE_RE = re.compile(r"^VGENE([0-9]+)$")
_GO_RE = re.compile(r"^GO([0-9]+)$")

_POS_TAGS = ["NN", "VB", "JJ", "RB", "DT", "IN", "NNS", "VBD"]
_DEP_TYPES = ["nsubj", "dobj", "prep", "amod", "conj", "nmod", "advmod", "det"]

# one token in 13 loses its tree edge -> disconnected dependency graphs,
# exercising the unreachable-SDP branch (reference instances.py:85-91
# leaves the path empty when previous[target] == -1)
_DROP_MOD = 13
# one token in 7 gains an extra (dep -> earlier token) edge, creating
# undirected cycles so the Dijkstra tie-break (instances.py:12) matters
_EXTRA_MOD = 7


@lru_cache(maxsize=1 << 16)
def tag_word(word: str):
    """word -> (lemma, pos, ner, norm_ner); pure function of the word
    (cached — corpus vocabulary is far smaller than token count)."""
    m = _GENE_RE.match(word)
    if m:
        k = int(m.group(1))
        return word.lower(), "NN", "HUMAN_GENE", "G%05d" % k
    m = _VGENE_RE.match(word)
    if m:
        k = int(m.group(1))
        return word.lower(), "NN", "HUMAN_GENE|VIRUS_GENE", "G%05d|V%05d" % (k, k)
    m = _GO_RE.match(word)
    if m:
        k = int(m.group(1))
        return word.lower(), "NN", "ONTOLOGY", "GO:%07d" % k
    pos = _POS_TAGS[hrange("pos|" + word, len(_POS_TAGS))]
    return word.lower(), pos, "O", None


def split_sentences(text: str) -> list[str]:
    """Deterministic sentence splitter: '.' terminates a sentence."""
    out = []
    for raw in text.split("."):
        s = raw.strip()
        if s:
            out.append(s)
    return out


def tokenize(sent_text: str) -> list[dict]:
    """sentence text -> 1-based token dicts (ROOT token 0 is implicit)."""
    tokens = []
    for i, word in enumerate(sent_text.split()):
        lemma, pos, ner, norm = tag_word(word)
        tokens.append(
            {
                "id": i + 1,
                "word": word,
                "lemma": lemma,
                "pos": pos,
                "ner": ner,
                "norm_ner": norm,
            }
        )
    return tokens


def build_deps(sent_text: str, n_tokens: int) -> list[dict]:
    """Deterministic dependency edges for a sentence.

    Shape: token 1 attaches to ROOT(0); token i>=2 attaches to a
    hash-chosen earlier token unless dropped; occasional extra
    reverse-direction edges create cycles.  Pure function of the
    sentence text, so pipeline and oracle agree exactly.
    """
    deps = []
    if n_tokens >= 1:
        deps.append({"type": "root", "gov": 0, "dep": 1})
    if n_tokens < 2:
        return deps
    # hash the sentence ONCE; per-token draws are integer-mixed from it,
    # vectorized across token indexes (pure function of the sentence text,
    # like the string-keyed original; hseq_vec is bit-identical to hseq)
    base = h48("deps|" + sent_text)
    idx = np.arange(2, n_tokens + 1, dtype=np.uint64)
    m = hseq_mat(base, idx, (1, 2, 3, 4, 5, 6))
    n_types = np.uint64(len(_DEP_TYPES))
    keep = (m[0] % np.uint64(_DROP_MOD) != 0).tolist()
    gov = (1 + m[1] % (idx - np.uint64(1))).tolist()
    typ = (m[2] % n_types).tolist()
    ids = idx.tolist()
    for k in range(n_tokens - 1):
        if keep[k]:
            deps.append({"type": _DEP_TYPES[typ[k]],
                         "gov": gov[k], "dep": ids[k]})
    if n_tokens >= 3:
        xtra = (m[3, 1:] % np.uint64(_EXTRA_MOD) == 0).tolist()
        tgt = (1 + m[4, 1:] % (idx[1:] - np.uint64(1))).tolist()
        xtyp = (m[5, 1:] % n_types).tolist()
        for k in range(n_tokens - 2):
            if xtra[k]:
                # direction (i -> tgt): token i governs an earlier token,
                # populating both forward and '-'-prefixed reverse cells
                deps.append({"type": _DEP_TYPES[xtyp[k]],
                             "gov": ids[k + 1], "dep": tgt[k]})
    return deps


def ner_keys(sent_text: str) -> set[str]:
    """The sentence's pipe-split NER keys, from the cached tagger alone
    (the key set ``candidates._chunk_mentions`` builds from the tokens)."""
    ners = {tag_word(w)[2] for w in sent_text.split()}
    return {k for ner in ners for k in ner.split("|")}


def parse_sentence(sent_id: int, sent: str) -> dict:
    """one sentence -> sentence dict {sent_id, sent_text, tokens, deps}."""
    toks = tokenize(sent)
    return {
        "sent_id": sent_id,
        "sent_text": sent,
        "tokens": toks,
        "deps": build_deps(sent, len(toks)),
    }


def parse_text(text: str) -> list[dict]:
    """page text -> list of sentence dicts, every sentence parsed."""
    return [parse_sentence(sid, sent)
            for sid, sent in enumerate(split_sentences(text))]
