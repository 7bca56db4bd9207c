"""The Spark side of one benchmark run, in its own process.

    python3 perfbench/child.py <config.json>

``run.py`` writes the config, starts this process with the environment
the Spark workers need, and reads the result JSON it leaves at
``config["result"]``.  Modes:

* ``timed``  — start the session, run the cold warm-up pass, run the
  workload back to back for ``seconds``, then restart the SparkContext
  ``setup_samples`` times to sample set-up cost;
* ``traced`` — the same start (the event log is on) and warm-up, one
  untraced reference pass, then one pass with each public call forced on
  its own inside a span (``layers.py``).

Every pass's output is checked against the input's reference.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
import traceback


def first_python_task(spark) -> None:
    """One task per core that imports the CLI entry point on a worker:
    forces Python worker spawn and the ``kgre`` import."""

    def run(batches):
        import kgre.cli  # noqa: F401

        for pdf in batches:
            yield pdf

    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(run, "id long").count()


def start_session(cfg):
    """``get_spark`` sized to the host."""
    from kgre.session import get_spark

    return get_spark("perfbench-" + cfg["workload"],
                     master="local[%d]" % cfg["cores"],
                     shuffle_partitions=cfg["cores"])


# ------------------------------------------------------------ workloads


class _Args:
    """CLI arguments for the ``score`` and ``clean`` modes, as
    ``kgre.cli.main`` would parse them; ``None`` for anything unset."""

    def __init__(self, **kw):
        self.__dict__.update(kw)

    def __getattr__(self, name):
        return None


def cli_args(cfg, out: str) -> _Args:
    common = dict(out=out, entity_a="GENE", entity_b="ONTOLOGY",
                  occur_count=cfg["occur_count"], recursive=False,
                  resume=False, checkpoint=False)
    if cfg["workload"] != "clean_kg":
        return _Args(pages=os.path.join(cfg["input"], "pages.parquet"),
                     **common)
    return _Args(documents=os.path.join(cfg["input"], "documents.parquet"),
                 decontam_bench=os.path.join(cfg["input"], "bench.parquet"),
                 url_col="url", neardup_threshold=0.6, min_quality=0.1,
                 lang_threshold=0.08, max_bucket=10_000,
                 line_dedup_min_count=5, max_rep_frac=0.3, max_bits=9.0,
                 host_cap=cfg["host_cap"], token_budget=cfg["token_budget"],
                 buckets=cfg["buckets"], **common)


def run_once(spark, cfg, out: str, cpu_clock) -> tuple[float, float]:
    """One pass of the workload's CLI path into a fresh ``out``; returns
    its wall time (scan of the input to the committed triples) and the
    CPU seconds ``cpu_clock`` counted meanwhile."""
    from kgre import cli

    shutil.rmtree(out, ignore_errors=True)
    # The score path persists its candidates and never unpersists them; a
    # later pass over the same input would reuse that cache entry and skip
    # the fused stage, which no CLI invocation can do.
    spark.catalog.clearCache()
    args = cli_args(cfg, out)
    mode = cli.mode_clean if cfg["workload"] == "clean_kg" else \
        cli.mode_score
    c0, t0 = cpu_clock(), time.perf_counter()
    mode(spark, args)
    wall = time.perf_counter() - t0
    return wall, cpu_clock() - c0


# ------------------------------------------------------------ checking


def read_triples(out: str) -> list[tuple]:
    import pyarrow.dataset as ds

    from inputs import triple_key

    t = ds.dataset(os.path.join(out, "triples"), format="parquet",
                   partitioning="hive").to_table(
        columns=["url", "subj", "obj", "rel", "label", "prob"]).to_pydict()
    return [triple_key(*r) for r in zip(t["url"], t["subj"], t["obj"],
                                        t["rel"], t["label"], t["prob"])]


def clean_outcome(out: str) -> dict:
    """Digest of the surviving documents and each stage's rows in/out."""
    import pyarrow.dataset as ds

    from inputs import multiset_digest

    docs = ds.dataset(os.path.join(out, "clean_docs"),
                      format="parquet").to_table().to_pylist()
    man = ds.dataset(os.path.join(out, "clean_manifest"),
                     format="parquet").to_table().to_pylist()
    return {
        "docs_digest": multiset_digest(
            tuple(sorted((k, str(v)) for k, v in d.items())) for d in docs),
        "stages": {m["stage"]: [m["rows_in"], m["rows_out"]] for m in man},
        "survivors": len(docs),
    }


def clean_reference(cfg, out: str) -> dict:
    """The reference for a ``clean_kg`` input: its first run's surviving
    documents and stage rows, pinned in the input directory for every
    later run, and the oracle triples over the pages derived from those
    documents."""
    path = os.path.join(cfg["input"], "clean_ref.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import pyarrow.dataset as ds

    from inputs import multiset_digest, oracle_triples
    from kgre.webtext import doc_to_page

    ref = clean_outcome(out)
    docs = ds.dataset(os.path.join(out, "clean_docs"),
                      format="parquet").to_table().to_pylist()
    pages = [doc_to_page(int(d["doc_id"]), d["text"], d["lang"])
             for d in sorted(docs, key=lambda d: d["doc_id"])]
    t0 = time.perf_counter()
    triples = oracle_triples(pages)
    ref.update(triples=len(triples), digest=multiset_digest(triples),
               oracle_pages_per_s=len(pages) / (time.perf_counter() - t0))
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)
    return ref


def check(cfg, out: str, meta: dict) -> tuple[bool, str]:
    """(output matches the reference, why not)."""
    from inputs import multiset_digest

    triples = read_triples(out)
    ref = meta
    if cfg["workload"] == "clean_kg":
        ref = clean_reference(cfg, out)
        got = clean_outcome(out)
        for k in ("docs_digest", "stages"):
            if got[k] != ref[k]:
                return False, "clean %s differs" % k
    if multiset_digest(triples) != ref["digest"]:
        return False, "triple digest differs from the oracle"
    return True, ""


# ------------------------------------------------------------ memory


_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def tree_usage() -> tuple[int, float]:
    """(resident bytes, CPU seconds) of this process and all its
    descendants: the Python driver, the driver JVM and the Python
    workers.  CPU seconds are user plus system time, with that of
    children already reaped.  A child whose address space has exactly its
    parent's size still shares it, as a process the JVM spawns does until
    it execs or a forked Python worker does until it allocates, so those
    pages count once."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    rss, ticks, todo = 0, 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        fields = stats.get(pid)
        if fields is None:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
        parent = stats.get(int(fields[1]))
        if parent is None or parent[20] != fields[20]:  # vsize
            rss += int(fields[21]) * _PAGE
    return rss, ticks / _TICK


def tree_cpu() -> float:
    return tree_usage()[1]


class UsageSampler:
    """Peak resident set of the process tree (``tree_usage``), sampled
    on a background thread; ``reset`` starts a new peak.  ``cpu`` is the
    tree's CPU seconds less the sampler's own."""

    PERIOD = 0.2

    def __init__(self):
        self.peak = 0
        self._own = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def reset(self):
        self.peak = tree_usage()[0]

    def cpu(self) -> float:
        return tree_cpu() - self._own

    def _loop(self):
        while not self._stop.is_set():
            t0 = time.thread_time()
            self.peak = max(self.peak, tree_usage()[0])
            self._own += time.thread_time() - t0
            self._stop.wait(self.PERIOD)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def host_cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


# ------------------------------------------------------------ modes


def warm_up(record) -> list[float]:
    """One cold pass over the full input (code generation, the JVM's
    compilation, the Python workers' ``kgre`` imports), checked like every
    other pass.  The driver JVM compiles with C1 only, and the pass after
    this one ran within 5-10% of the passes after it; a second warm-up
    pass would cost a sixth of a run."""
    run = record()
    return [] if run is None else [run[0]]


def main(config_path: str) -> None:
    with open(config_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    out = os.path.join(cfg["work"], "out",
                       "%s-%d" % (cfg["workload"], os.getpid()))
    res: dict = {"attempted": 0, "failed": 0, "walls": [], "errors": []}

    def record(cpu_clock=tree_cpu):
        """One checked run; its (wall, CPU seconds), or None when it
        raised."""
        res["attempted"] += 1
        try:
            run = run_once(spark, cfg, out, cpu_clock)
            ok, why = check(cfg, out, meta)
        except Exception:  # a failed run is counted, the loop goes on
            res["failed"] += 1
            res["errors"].append(traceback.format_exc(limit=3))
            return None
        if not ok:
            res["failed"] += 1
            res["errors"].append(why)
        return run

    t0 = time.perf_counter()
    spark = start_session(cfg)
    first_python_task(spark)
    res["launch_s"] = time.perf_counter() - t0
    meta_path = os.path.join(cfg["input"], "meta.json")
    deadline = time.time() + 120
    while not os.path.exists(meta_path):  # run.py is still generating it
        if time.time() > deadline or os.getppid() == 1:
            raise SystemExit("no input reference: run.py stopped")
        time.sleep(0.1)
    with open(meta_path) as f:
        meta = json.load(f)
    res["warmup_walls"] = warm_up(record)

    if cfg["mode"] == "traced":
        import layers

        # the untraced reference: one pass in the same warm state
        run = record()
        if run is not None:
            res["walls"].append(run[0])
        res.update(layers.traced_run(spark, cfg, out))
        ok, why = check(cfg, out, meta)
        res["attempted"] += 1
        if not ok:
            res["failed"] += 1
            res["errors"].append("traced run: " + why)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        res["metrics"].update(layers.event_log_metrics(
            cfg["eventlog_dir"], app_id, res.pop("groups")))
    else:
        deadline = time.perf_counter() + cfg["seconds"]
        res.update(cpus=[], peaks=[], steals=[])
        with UsageSampler() as usage:
            while time.perf_counter() < deadline:
                usage.reset()
                ticks0 = host_cpu_ticks()
                run = record(usage.cpu)
                ticks1 = host_cpu_ticks()
                if run is None:
                    continue
                res["walls"].append(run[0])
                res["cpus"].append(run[1])
                res["peaks"].append(max(usage.peak, tree_usage()[0]))
                # CPU time the hypervisor gave to other guests
                res["steals"].append((ticks1[1] - ticks0[1])
                                     / max(1, ticks1[0] - ticks0[0]))
        res.update(setup_walls=[], setup_cpus=[])
        for _ in range(cfg["setup_samples"]):
            spark.stop()
            c0, t0 = tree_cpu(), time.perf_counter()
            spark = start_session(cfg)
            first_python_task(spark)
            res["setup_walls"].append(time.perf_counter() - t0)
            res["setup_cpus"].append(tree_cpu() - c0)
        spark.stop()
    res["reference"] = {k: v for k, v in meta.items()}
    if cfg["workload"] == "clean_kg":
        ref_path = os.path.join(cfg["input"], "clean_ref.json")
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                res["reference"].update(json.load(f))
    shutil.rmtree(out, ignore_errors=True)
    with open(cfg["result"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main(sys.argv[1])
