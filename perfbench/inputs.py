"""Seeded input generators and the per-input reference digests.

Every workload input is a pure function of (workload, seed, size) and is
written once, untimed, from a single process, as parquet only.  A cached
input lives under ``<work>/inputs/<key>/`` where the key carries the
workload's generator-version token and a hash of the program sources the
generator or the reference reads, so a changed generator or oracle never
reuses a stale input or reference.

The reference for a ``kg_*`` input is a digest of the emitted-triple
multiset computed with ``kgre.pyoracle.run_pipeline`` at the workload's
``occur_count`` (prob > 0.5, probs rounded to 6 places), plus the oracle's
single-process pages/s as the 1-core baseline.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

# Bump a token whenever its generator's output changes.
GEN_VERSION = {"kg_dense": "dense-2", "kg_longpages": "long-2",
               "clean_kg": "clean-1"}

OCCUR_COUNT = 5
# ``clean_kg``'s CLI options beyond the fixed ones in ``child.cli_args``
# (changing those needs a GEN_VERSION bump); part of its cache key, since
# its reference is pinned per input
CLEAN_OPTS = {"host_cap": 20, "token_budget": 2_500, "buckets": 2}

_PAGE_COLS = ("url", "warc_ts", "html", "text", "lang")

_FILLER = (
    "the a of and to in on with for is was binds regulates protein cell "
    "pathway level signal response growth factor receptor complex "
    "expression activity during between under over study result analysis "
    "data model region domain site role function target effect increase "
    "decrease").split()

_BOILER_WORDS = (
    "home about contact privacy terms cookies login register subscribe "
    "newsletter share follow archive sitemap careers press help search "
    "menu account settings language copyright reserved policy").split()


def source_hash(root: str, names) -> str:
    """Short sha256 over the named files under ``root`` (sorted)."""
    h = hashlib.sha256()
    for name in sorted(names):
        with open(os.path.join(root, name), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def _kgre_sources(root: str):
    return [os.path.join("kgre", n)
            for n in sorted(os.listdir(os.path.join(root, "kgre")))
            if n.endswith(".py")]


# ------------------------------------------------------------ generators


def dense_pages(n: int, seed: int) -> list[dict]:
    """``kg_dense``: short entity-dense pages, the program's own corpus
    shape (``synthgen.gen_page``: 2-7 sentences, 0-4 mentions each,
    about 5% ``de``)."""
    from kgre import synthgen

    return [synthgen.gen_page(i, "bench-%d" % seed) for i in range(n)]


def _boilerplate(rng: random.Random, n_bytes: int) -> str:
    out, size = [], 0
    while size < n_bytes:
        w = rng.choice(_BOILER_WORDS)
        link = '<a href="/%s/%d">%s</a> ' % (w, rng.randrange(1000), w)
        out.append(link)
        size += len(link)
    return "".join(out)


def long_page(i: int, seed: int) -> dict:
    """``kg_longpages``: about 600 article words in ~35 sentences with six
    entity mentions, wrapped in ~1 KB of nav and a ~4 KB footer.  Two of
    the mentions share a sentence with a partner, so a page yields a few
    candidate pairs at most."""
    from kgre.synthgen import N_GENES, N_GO

    rng = random.Random("long|%d|%d" % (seed, i))
    sents = []
    for _ in range(35):
        sents.append([rng.choice(_FILLER) for _ in range(rng.randint(12, 22))])
    paired = rng.sample(range(len(sents)), 2)
    for s in paired:
        words = sents[s]
        words.insert(rng.randrange(len(words)),
                     "GENE%d" % rng.randint(1, N_GENES))
        partner = ("GO%d" % rng.randint(1, N_GO) if rng.random() < 0.7
                   else "GENE%d" % rng.randint(1, N_GENES))
        words.insert(rng.randrange(len(words) + 1), partner)
    for _ in range(2):
        words = sents[rng.randrange(len(sents))]
        words.insert(rng.randrange(len(words)),
                     rng.choice(("GENE%d", "GO%d")) % rng.randint(1, N_GO))
    text = ". ".join(" ".join(w) for w in sents) + "."
    html = ("<html><head><title>article %d</title>"
            '<meta charset="utf-8"/></head><body><nav>%s</nav>'
            "<article><p>%s</p></article><footer>%s</footer></body></html>"
            % (i, _boilerplate(rng, 1024), text, _boilerplate(rng, 4096)))
    from datetime import datetime, timedelta

    return {
        "url": "https://news%d.example/a/%d" % (i % 53, i),
        "warc_ts": datetime(2024, 1, 1) + timedelta(seconds=i * 61),
        "html": html.encode("utf-8"),
        "text": text,
        "lang": "en" if rng.random() >= 0.05 else "de",
    }


def long_pages(n: int, seed: int) -> list[dict]:
    return [long_page(i, seed) for i in range(n)]


_STOP = ["the", "a", "of", "and", "to", "in", "on", "with", "for", "is",
         "was"]
_CONTENT = (
    "protein cell pathway level signal response growth factor receptor "
    "complex expression activity study result analysis data model region "
    "domain site role function target effect increase decrease binding "
    "membrane kinase enzyme tissue sample control patient gene variant "
    "structure sequence transcript network module cluster marker assay "
    "dose rate").split()
_BOILER_LINES = ["share this page on social media",
                 "all rights reserved by the publisher",
                 "subscribe to the newsletter for updates",
                 "cookies help us deliver our services"]


def _prose(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_STOP) if rng.random() < 0.4
                    else rng.choice(_CONTENT) for _ in range(n))


def clean_documents(n: int, seed: int) -> tuple[list[dict], list[dict]]:
    """``clean_kg``: (documents, decontamination bench).  Each document is
    drawn from a fixed mix so that every clean stage removes something:
    exact copies (18%), one-word edits (12%), canonical-URL duplicates
    (4%), repeated-phrase spam (4%), random-token noise (3% + 3%),
    pages quoting a 9-word run of a bench document (3%), a hot host
    carrying 15% of urls, and boilerplate lines on 30% of documents."""
    rng = random.Random("clean|%d" % seed)
    bench = [{"doc_id": b, "text": _prose(rng, 30)} for b in range(8)]
    docs: list[dict] = []
    for i in range(n):
        host = "h%d.example" % (0 if rng.random() < 0.15
                                else rng.randrange(1, 40))
        url = "https://%s/p/%d" % (host, i)
        r = rng.random()
        if docs and r < 0.18:
            text = docs[rng.randrange(len(docs))]["text"]
        elif docs and r < 0.30:
            ws = docs[rng.randrange(len(docs))]["text"].split(" ")
            ws[rng.randrange(len(ws))] = rng.choice(_CONTENT)
            text = " ".join(ws)
        elif docs and r < 0.34:
            src = docs[rng.randrange(len(docs))]
            text = _prose(rng, rng.randint(30, 90))
            url = src["url"].replace("https://", "HTTPS://") + "?utm_source=x"
        elif r < 0.38:
            text = " ".join(["the protein binds the receptor"]
                            * rng.randint(8, 14))
        elif r < 0.41:
            text = " ".join("x%dq" % rng.randrange(10 ** 6) if k % 3
                            else "the" for k in range(40))
        elif r < 0.44:
            b = bench[rng.randrange(len(bench))]["text"].split(" ")
            k = rng.randrange(0, len(b) - 9)
            text = " ".join([_prose(rng, 20)] + b[k:k + 9]
                            + [_prose(rng, 20)])
        elif r < 0.47:
            text = " ".join("zzq%d" % rng.randrange(50) for _ in range(40))
        else:
            text = _prose(rng, rng.randint(30, 90))
        if rng.random() < 0.3:
            text = text + "\n" + rng.choice(_BOILER_LINES)
        docs.append({"doc_id": 1000 + i, "text": text,
                     "lang": "de" if rng.random() < 0.08 else "en",
                     "source": "src%d" % rng.randrange(4), "url": url})
    return docs, bench


# ------------------------------------------------------------ digests


def triple_key(url, subj, obj, rel, label, prob) -> tuple:
    return (str(url), str(subj), str(obj), str(rel), int(label),
            round(float(prob), 6))


def multiset_digest(rows) -> str:
    """Order-independent digest of a multiset of tuples."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode() + b"\n")
    return h.hexdigest()


def oracle_triples(pages: list[dict]) -> list[tuple]:
    from kgre import pyoracle, synthgen

    triples, _, _ = pyoracle.run_pipeline(
        pages, synthgen.kb_rows(), synthgen.ontology_rows(),
        synthgen.stop_entity_ids(), occur_count=OCCUR_COUNT)
    return [triple_key(t["url"], t["subj"], t["obj"], t["rel"], t["label"],
                       t["prob"]) for t in triples if t["prob"] > 0.5]


# ------------------------------------------------------------ cache


def _write_parquet(rows: list[dict], path: str, cols=None) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(rows, columns=list(cols) if cols else None)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def input_dir(root: str, work: str, workload: str, seed: int,
              size: int) -> str:
    """Where the input for (workload, seed, size) is cached."""
    key = "%s-%s-s%d-n%d-%s" % (workload, GEN_VERSION[workload], seed, size,
                                source_hash(root, _kgre_sources(root)))
    if workload == "clean_kg":
        key += "-" + hashlib.sha256(json.dumps(
            CLEAN_OPTS, sort_keys=True).encode()).hexdigest()[:8]
    return os.path.join(work, "inputs", key)


def ensure_input(out: str, workload: str, seed: int, size: int) -> bool:
    """Generate the input and its reference into ``out`` unless cached;
    ``meta.json`` in it holds the reference.  True when it generated."""
    if os.path.exists(os.path.join(out, "meta.json")):
        return False
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta: dict = {"workload": workload, "seed": seed, "size": size,
                  "key": os.path.basename(out)}
    if workload == "clean_kg":
        docs, bench = clean_documents(size, seed)
        _write_parquet(docs, os.path.join(tmp, "documents.parquet"))
        _write_parquet(bench, os.path.join(tmp, "bench.parquet"))
        meta["docs"] = len(docs)
    else:
        pages = (dense_pages if workload == "kg_dense"
                 else long_pages)(size, seed)
        _write_parquet(pages, os.path.join(tmp, "pages.parquet"),
                       _PAGE_COLS)
        t0 = time.perf_counter()
        ref = oracle_triples(pages)
        dt = time.perf_counter() - t0
        meta.update(pages=len(pages), triples=len(ref),
                    digest=multiset_digest(ref),
                    oracle_pages_per_s=len(pages) / dt)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run cached the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    return True
