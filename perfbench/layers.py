"""The traced run: the workload's CLI path taken apart into its public
``kgre`` calls, each forced on its own inside a span, plus the counters
Spark itself records.

A span is (name, start, end, parent).  Spans stay in memory and are
written out when the run ends.  Each span runs its Spark jobs under a job
group of the same name, so the event log (uncompressed, enabled at
launch) and ``statusTracker`` attribute task metrics to the layer that
caused them.  Layers and the end-to-end metric each should move (the
reported wall-time figures move with them):

==============================  =========================================
``pipeline.scan*``/exchange      ``cpu_s`` on ``kg_longpages``; not
                                 ``kg_dense``
``pipeline.fused_s``/python/     ``pages_per_cpu_s`` on both ``kg_*``
arrow bytes
``extract``/``nlp``              ``cpu_s`` on ``kg_longpages``
``candidates``/``vocab``         ``triples_per_cpu_s`` on ``kg_dense``
``kb.prepare_s``,                driver-serial, grows with the
``score.weight_table_s``         vocabulary: ``kg_dense``
``score.*``                      ``triples_per_cpu_s`` on ``kg_dense``;
                                 not ``kg_longpages``
``sink.*``                       ``cpu_s`` on every workload
``clean.*``, ``webtext``,        ``cpu_s`` on ``clean_kg``
``lineage``
==============================  =========================================

``trace.cand_vocab_score_share`` is the share of the traced wall spent in
candidates (the fused stage split by the per-page sample), vocab and
score: larger on ``kg_dense`` than on ``kg_longpages`` when the two
workloads stress different layers.  Python time and Arrow bytes are
summed over tasks, from the ``MapInPandas`` metrics in the event log.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

# Layer spans whose durations add up to the traced pass (the coverage
# numerator); everything else is a child span or bookkeeping.
_KG_LAYERS = ("pipeline.scan", "pipeline.exchange", "pipeline.fused",
              "kb.prepare", "vocab.counts", "vocab.dense_ids",
              "vocab.collect", "score.weight_table", "score", "sink")
_CLEAN_LAYERS = ("clean", "clean.write", "kb.prepare", "webtext.pages",
                 "lineage", "vocab.counts", "vocab.dense_ids",
                 "vocab.collect", "score.weight_table", "score", "sink")


class Tracer:
    """Spans in memory; each span's Spark jobs run under its job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(parent or "untraced", parent or "untraced")
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent})

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def task_failures(self) -> dict:
        """Failed tasks per span, from ``statusTracker``."""
        st = self.sc.statusTracker()
        out = {}
        for name in {s["name"] for s in self.spans}:
            failed = 0
            for job in st.getJobIdsForGroup(name):
                info = st.getJobInfo(job)
                for stage in (info.stageIds if info else ()):
                    si = st.getStageInfo(stage)
                    failed += si.numFailedTasks if si else 0
            out[name] = failed
        return out


def _force(df):
    df = df.persist()
    return df, df.count()


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def _tail(spark, tr: Tracer, cands, fwd, rev, key_order, cfg, out, m,
          persisted):
    """vocab -> weight table -> score -> sink, shared by every workload
    (``KgPipeline.run_from_candidates`` and the clean recipe's tail)."""
    from pyspark.sql import functions as F

    from kgre.pipeline import write_triples
    from kgre.score import build_weight_table, emitted_triples, \
        score_candidates
    from kgre.vocab import collect_vocab_sets, two_phase_dense_ids, \
        vocab_counts

    with tr.span("vocab.counts"):
        counts, m["vocab.features_distinct"] = _force(vocab_counts(cands))
        kept, m["vocab.features_kept"] = _force(
            counts.filter(F.col("cnt") >= cfg["occur_count"]))
    persisted += [counts, kept]
    m["vocab.keep_ratio"] = (m["vocab.features_kept"]
                             / max(1, m["vocab.features_distinct"]))
    with tr.span("vocab.dense_ids"):
        vocab_df, _ = _force(two_phase_dense_ids(
            kept, ["kind"], [F.desc("cnt"), F.asc("feature")]))
    persisted.append(vocab_df)
    with tr.span("vocab.collect"):
        vocabs = collect_vocab_sets(vocab_df)
    with tr.span("score.weight_table"):
        wt = build_weight_table(vocabs, key_order)
    m["score.rows_in"] = cands.filter(
        (~F.col("is_reverse")) | F.col("gene_to_gene")).count()
    with tr.span("score"):
        scored, m["score.rows_out"] = _force(score_candidates(
            cands, vocabs, key_order, fwd, rev, weight_table=wt,
            emit_threshold=0.5))
    persisted.append(scored)
    m["score.emit_ratio"] = (m["score.rows_out"]
                             / max(1, m["score.rows_in"] * len(key_order)))
    with tr.span("sink"):
        write_triples(emitted_triples(scored), os.path.join(out, "triples"))
        spark.read.parquet(os.path.join(out, "triples")).count()
    m["sink.bytes"], m["sink.files"] = _dir_stats(
        os.path.join(out, "triples"))


def _kg_pass(spark, tr: Tracer, cfg, out, m, persisted):
    """``KgPipeline.run`` -> ``write_triples`` (the CLI ``score`` path)."""
    from pyspark.sql import functions as F

    from kgre import synthgen
    from kgre.pipeline import KgPipeline, pages_to_candidates
    from kgre.util import ensure_min_partitions

    pipe = KgPipeline(spark, occur_count=cfg["occur_count"])
    with tr.span("pipeline.scan"):
        pages = spark.read.parquet(os.path.join(cfg["input"],
                                                "pages.parquet"))
        slim, m["pipeline.scan_rows_out"] = _force(
            pages.filter(F.col("lang") == "en").select("url", "html",
                                                       "lang"))
    with tr.span("pipeline.exchange"):
        parted, _ = _force(ensure_min_partitions(slim, cols=("url",)))
    with tr.span("pipeline.fused"):
        cands, m["candidates.rows_out"] = _force(pages_to_candidates(
            parted, pipe.entity_a, pipe.entity_b,
            synthgen.stop_entity_ids(), min_partitions=0))
    persisted += [slim, parted, cands]
    with tr.span("kb.prepare"):
        fwd, rev, key_order = pipe.prepare_kb(synthgen.kb_rows(),
                                              synthgen.ontology_rows())
    _tail(spark, tr, cands, fwd, rev, key_order, cfg, out, m, persisted)


def _clean_pass(spark, tr: Tracer, cfg, out, m, persisted):
    """The CLI ``clean`` recipe: ``clean_documents`` -> ``webtext.
    pages_from_documents`` -> ``lineage.run_stage_with_resume`` -> vocab ->
    score -> ``write_triples``."""
    from child import cli_args
    from kgre import synthgen, webtext
    from kgre.clean import clean_documents
    from kgre.lineage import run_stage_with_resume
    from kgre.pipeline import KgPipeline, pages_to_candidates

    a = cli_args(cfg, out)
    docs = spark.read.parquet(a.documents).persist()
    persisted.append(docs)
    stages: list = []
    with tr.span("clean"):
        clean = clean_documents(
            docs, neardup_threshold=a.neardup_threshold,
            min_quality=a.min_quality, lang_threshold=a.lang_threshold,
            manifest=stages, max_bucket=a.max_bucket, url_col=a.url_col,
            line_dedup_min_count=a.line_dedup_min_count,
            max_rep_frac=a.max_rep_frac, max_bits=a.max_bits,
            decontam_bench=spark.read.parquet(a.decontam_bench),
            host_cap=a.host_cap, token_budget=a.token_budget)
    with tr.span("clean.write"):
        clean.write.mode("overwrite").parquet(out + "/clean_docs")
        spark.createDataFrame(
            stages, "stage string, rows_in long, rows_out long, "
            "wall_ms long").write.mode("overwrite").parquet(
            out + "/clean_manifest")
        clean = spark.read.parquet(out + "/clean_docs")
    for stage, rows_in, rows_out, wall_ms in stages:
        if stage == "near_dedup_caps":
            m["clean.near_dedup.capped_rows"] = rows_out
            continue
        m["clean.%s.s" % stage] = wall_ms / 1000.0
        m["clean.%s.rows_in" % stage] = rows_in
        m["clean.%s.rows_out" % stage] = rows_out
    pipe = KgPipeline(spark, occur_count=cfg["occur_count"])
    with tr.span("kb.prepare"):
        fwd, rev, key_order = pipe.prepare_kb(synthgen.kb_rows(),
                                              synthgen.ontology_rows())
    stop = synthgen.stop_entity_ids()
    with tr.span("webtext.pages"):
        pages, m["pipeline.scan_rows_out"] = _force(
            webtext.pages_from_documents(clean, lang="en"))
    persisted.append(pages)
    with tr.span("lineage"):
        cands = run_stage_with_resume(
            spark, pages, "candidates",
            lambda part: pages_to_candidates(part, pipe.entity_a,
                                             pipe.entity_b, stop,
                                             min_partitions=0),
            out + "/candidates", out + "/manifest", n_buckets=a.buckets)
        cands, m["candidates.rows_out"] = _force(cands)
    persisted.append(cands)
    m["lineage.buckets"] = a.buckets
    m["lineage.manifest_rows"] = spark.read.parquet(
        out + "/manifest").count()
    _tail(spark, tr, cands, fwd, rev, key_order, cfg, out, m, persisted)


def sample_self_times(cfg, n_pages: int = 200) -> dict:
    """Per-page self time of the three per-row kernels of the fused
    stage, on the first ``n_pages`` English pages of the input, in this
    process (one untimed pass fills the tagger cache first)."""
    import pyarrow.parquet as pq

    from kgre import nlp, synthgen
    from kgre.candidates import sentence_candidates
    from kgre.extract import extract_text_from_html

    if cfg["workload"] == "clean_kg":
        from kgre.webtext import doc_to_page

        docs = pq.read_table(os.path.join(cfg["input"], "documents.parquet"),
                             columns=["doc_id", "text", "lang"]).to_pylist()
        rows = [doc_to_page(d["doc_id"], d["text"], d["lang"])
                for d in docs[:4 * n_pages]]
    else:
        rows = pq.read_table(os.path.join(cfg["input"], "pages.parquet"),
                             columns=["url", "html", "lang"]).to_pylist()
    rows = [r for r in rows if r["lang"] == "en"][:n_pages]
    stop = frozenset(synthgen.stop_entity_ids())
    t = {"extract": 0.0, "nlp": 0.0, "candidates": 0.0}
    sentences = cand_rows = 0
    for timed in (False, True):
        for r in rows:
            t0 = time.perf_counter()
            text = extract_text_from_html(r["html"])
            t1 = time.perf_counter()
            sents = nlp.parse_text(text)
            t2 = time.perf_counter()
            n = 0
            for s in sents:
                n += len(sentence_candidates(
                    r["url"], s["sent_id"], s["tokens"], s["deps"], "GENE",
                    "ONTOLOGY", stop, None, None, sent_text=s["sent_text"]))
            t3 = time.perf_counter()
            if timed:
                t["extract"] += t1 - t0
                t["nlp"] += t2 - t1
                t["candidates"] += t3 - t2
                sentences += len(sents)
                cand_rows += n
    n = max(1, len(rows))
    return {"extract.us_per_page": 1e6 * t["extract"] / n,
            "nlp.us_per_page": 1e6 * t["nlp"] / n,
            "nlp.sentences": sentences,
            "candidates.us_per_page": 1e6 * t["candidates"] / n,
            "candidates.sample_rows_out": cand_rows,
            "sample.pages": len(rows)}


def traced_run(spark, cfg, out) -> dict:
    """One traced pass into ``out``.  Returns the metrics known before the
    session stops, the traced and summed layer seconds, and the layer ->
    job-group map for ``event_log_metrics``; the spans themselves are
    written to ``<work>/trace-<workload>.json``."""
    shutil.rmtree(out, ignore_errors=True)
    spark.catalog.clearCache()
    tr = Tracer(spark)
    m: dict = {}
    persisted: list = []
    clean = cfg["workload"] == "clean_kg"
    try:
        with tr.span("run"):
            (_clean_pass if clean else _kg_pass)(spark, tr, cfg, out, m,
                                                 persisted)
    finally:
        for df in persisted:
            df.unpersist()
    layers = _CLEAN_LAYERS if clean else _KG_LAYERS
    wall = tr.seconds("run")
    # the clean recipe's fused stage runs inside the lineage buckets
    spans = {"pipeline.scan_s": "pipeline.scan",
             "pipeline.exchange_s": "pipeline.exchange",
             "pipeline.fused_s": "lineage" if clean else "pipeline.fused",
             "kb.prepare_s": "kb.prepare", "vocab.counts_s": "vocab.counts",
             "vocab.dense_ids_s": "vocab.dense_ids",
             "vocab.collect_s": "vocab.collect",
             "score.weight_table_s": "score.weight_table",
             "score.s": "score", "sink.s": "sink", "clean.s": "clean",
             "clean.write_s": "clean.write",
             "webtext.pages_s": "webtext.pages", "lineage.s": "lineage"}
    ran = {s["name"] for s in tr.spans}
    m.update({k: tr.seconds(v) for k, v in spans.items() if v in ran})
    m.update(sample_self_times(cfg))
    # candidates' share of the fused stage, split by the per-page sample
    per_page = (m["extract.us_per_page"] + m["nlp.us_per_page"]
                + m["candidates.us_per_page"])
    cand_s = m["pipeline.fused_s"] * m["candidates.us_per_page"] / max(
        per_page, 1e-9)
    m["trace.cand_vocab_score_share"] = (
        cand_s + m["vocab.counts_s"] + m["vocab.dense_ids_s"]
        + m["vocab.collect_s"] + m["score.weight_table_s"] + m["score.s"]
    ) / wall
    fails = tr.task_failures()
    m["spark.tasks_failed"] = sum(fails.values())
    with open(os.path.join(cfg["work"], "trace-%s.json"
                           % cfg["workload"]), "w") as f:
        json.dump({"spans": tr.spans, "task_failures": fails}, f, indent=1)
    return {"metrics": m, "traced_wall": wall,
            "layer_seconds": sum(tr.seconds(n) for n in layers),
            "groups": {"fused": "lineage" if clean else "pipeline.fused",
                       "exchange": "pipeline.exchange",
                       "vocab": "vocab.counts", "score": "score"}}


# ------------------------------------------------------------ event log

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_SHUFFLE = "shuffle bytes written"


def _event_lines(log_dir: str, app_id: str):
    """Events of one application, from a single-file or a rolling
    (``eventlog_v2_<app>/events_<n>_<app>``) event log."""
    rolling = os.path.join(log_dir, "eventlog_v2_" + app_id)
    if os.path.isdir(rolling):
        parts = sorted((int(n.split("_")[1]), n) for n in os.listdir(rolling)
                       if n.startswith("events_"))
        paths = [os.path.join(rolling, n) for _, n in parts]
    else:
        paths = [os.path.join(log_dir, app_id)]
    for path in paths:
        with open(path) as f:
            yield from f


def event_log_metrics(log_dir: str, app_id: str, groups: dict) -> dict:
    """SQL-node metrics summed per job group from the session's event log
    (read after the session stopped, so the log is complete)."""
    stage_group: dict[int, str] = {}
    sums: dict[str, dict[str, float]] = {}
    retried = 0
    for line in _event_lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for s in ev.get("Stage IDs", ()):
                stage_group[s] = g
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            if info.get("Attempt", 0) > 0:
                retried += 1
            g = stage_group.get(ev.get("Stage ID"))
            acc = sums.setdefault(g, {})
            for a in info.get("Accumulables", ()):
                name, upd = a.get("Name"), a.get("Update")
                if name in (_PY_TIME, _PY_SENT, _PY_RECV, _SHUFFLE):
                    acc[name] = acc.get(name, 0) + float(upd)

    def get(layer, name):
        return sums.get(groups[layer], {}).get(name, 0.0)

    return {
        "spark.task_attempts_retried": retried,
        "pipeline.exchange_bytes": get("exchange", _SHUFFLE),
        "pipeline.python_s": get("fused", _PY_TIME) / 1000.0,
        "pipeline.arrow_bytes_to_python": get("fused", _PY_SENT),
        "pipeline.arrow_bytes_from_python": get("fused", _PY_RECV),
        "vocab.shuffle_bytes": get("vocab", _SHUFFLE),
        "score.python_s": get("score", _PY_TIME) / 1000.0,
    }
