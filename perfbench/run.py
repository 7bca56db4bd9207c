"""kgre benchmark: pages -> triples through the CLI's own code paths.

    python3 perfbench/run.py --workload kg_dense --seed 1 --seconds 5 \
        --trace 0

Run from the root of a checkout.  A run is one closed-loop client: in one
Spark session sized to the host, the workload's CLI path runs one cold
warm-up pass, then passes back to back for ``--seconds`` (at least one).
Every pass's output is checked against a reference.  The session is then
restarted three times to sample set-up cost.  Each metric is the median
over its samples: the timed passes for the CPU-time metrics and the peak
RSS, the restarts for ``setup_s``; the wall-time figures are printed as
``reported`` lines.  The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``; the
lines before it name every setting and every metric with its unit, sample
count and spread, the warm-up walls, each timed pass's CPU time, peak RSS
and host CPU steal, and ``failed_frac``.

Workloads (inputs are generated from ``--seed``, untimed, by
``inputs.py`` and cached under ``.perfbench_work/``):

``kg_dense``      entity-dense short pages (``synthgen.gen_page``), CLI
                  ``score``: the work is in candidates, vocab, score and
                  the driver's weight table.
``kg_longpages``  long boilerplate-heavy html with six mentions a page,
                  CLI ``score``: the work is in scan, the html exchange,
                  extract and ``nlp.parse_text``; candidates, vocab and
                  score sit near idle.
``clean_kg``      CLI ``clean`` with every optional stage on over a
                  duplicate-heavy documents table with urls.  A warm pass
                  takes about 20 s on 4 cores whatever the input size
                  (the recipe runs a few hundred small Spark jobs), so it
                  is run by hand rather than listed in ``BENCHMARK.json``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics instead: after the warm-up, one untraced pass gives
the reference wall, then the workload runs once more in the same process
with every public ``kgre`` call forced on its own inside a span
(``layers.py``).  It adds layer coverage (summed layer spans / untraced
wall) and tracing overhead (traced wall - untraced wall).  Traced runs are
never timed runs: ``--trace 0`` runs are separate processes without the
event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_MARK = "PERFBENCH_RUN"
ROOT = os.path.dirname(HERE)

# Input sizes.  A warm pass of either kg_* workload takes about 5-6 s on
# 4 cores, much of it per-job Spark overhead.  Start-up, the warm-up and
# the set-up samples already take about 40 s of a run, which is kept
# near a minute; the per-page metrics of the traced run carry the per-row
# costs that larger inputs would expose.
SIZES = {"kg_dense": 2500, "kg_longpages": 1000, "clean_kg": 400}

# The timings a run reports in its JSON line are CPU seconds (user plus
# system, of the Python driver, the driver JVM and the Python workers):
# per timed pass, and for ``setup_s`` per restart (session start and the
# first Python task).  This host is a VM whose hypervisor gives its CPUs
# to other guests from time to time: over ten kg_dense runs while it took
# 4-19% of the CPU time, the wall time of a pass spread 0.25 of its
# median (quartile distance) and, over ten runs while it took 5-14%, its
# CPU time 0.066.  A pass is mostly short Spark jobs in a chain, so each
# stolen slice on the chain delays it whole.  The wall-time figures are
# printed beside them as ``reported`` lines.
END_TO_END = [
    ("cpu_s", "s", "lower"),
    ("pages_per_cpu_s", "1/s", "higher"),
    ("triples_per_cpu_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
REPORTED = [
    ("wall_s", "s", "lower"),
    ("pages_per_s", "1/s", "higher"),
    ("triples_per_s", "1/s", "higher"),
    ("setup_wall_s", "s", "lower"),
]

# (name, unit, better); counts are invariants of the input, so their
# direction is nominal: less work is better.
PER_LAYER = [
    ("pipeline.scan_s", "s", "lower"),
    ("pipeline.scan_rows_out", "count", "lower"),
    ("pipeline.exchange_s", "s", "lower"),
    ("pipeline.exchange_bytes", "bytes", "lower"),
    ("pipeline.fused_s", "s", "lower"),
    ("pipeline.python_s", "s", "lower"),
    ("pipeline.arrow_bytes_to_python", "bytes", "lower"),
    ("pipeline.arrow_bytes_from_python", "bytes", "lower"),
    ("extract.us_per_page", "us", "lower"),
    ("nlp.us_per_page", "us", "lower"),
    ("nlp.sentences", "count", "lower"),
    ("candidates.us_per_page", "us", "lower"),
    ("candidates.rows_out", "count", "lower"),
    ("vocab.counts_s", "s", "lower"),
    ("vocab.dense_ids_s", "s", "lower"),
    ("vocab.collect_s", "s", "lower"),
    ("vocab.features_distinct", "count", "lower"),
    ("vocab.features_kept", "count", "lower"),
    ("vocab.keep_ratio", "ratio", "lower"),
    ("vocab.shuffle_bytes", "bytes", "lower"),
    ("kb.prepare_s", "s", "lower"),
    ("score.weight_table_s", "s", "lower"),
    ("score.s", "s", "lower"),
    ("score.python_s", "s", "lower"),
    ("score.rows_in", "count", "lower"),
    ("score.rows_out", "count", "lower"),
    ("score.emit_ratio", "ratio", "lower"),
    ("sink.s", "s", "lower"),
    ("sink.bytes", "bytes", "lower"),
    ("sink.files", "count", "lower"),
    ("spark.tasks_failed", "count", "lower"),
    ("spark.task_attempts_retried", "count", "lower"),
    ("trace.cand_vocab_score_share", "ratio", "lower"),
    ("trace.layer_coverage", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"),
]


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, including the ``clean_kg`` extras."""
    for n, unit, _ in PER_LAYER:
        if n == name:
            return unit
    return "s" if name.endswith(("_s", ".s")) else "count"


# ------------------------------------------------------------ host


def host_settings() -> dict:
    """Session sizing for this host: ``local[nproc]``, shuffle partitions
    equal to the core count, and a driver heap of an eighth of
    ``MemTotal`` (the local-mode driver JVM hosts every executor thread)
    clamped to [1, 4] GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 8))
    return {"cores": cores, "master": "local[%d]" % cores,
            "shuffle_partitions": cores, "driver_heap": "%dm" % heap_mb,
            "mem_total_mb": mem_kb // 1024}


def driver_java_options(heap: str) -> str:
    """Driver JVM options: C1-only compilation and a fixed heap.

    A run lasts about a minute, and C2 was still compiling Spark's hot
    paths after seven passes: each pass sat at another point of the
    warm-up curve (walls falling 5-10% a pass) and C2's compile arenas
    moved the peak RSS by hundreds of MB.  With C1 the JVM is steady after
    one full pass.  The heap is committed and touched at its maximum from
    the start, so the resident set does not follow the collector's
    resizing from run to run; ``peak_rss_mb`` then moves with the Python
    driver and workers and the JVM's memory outside the heap."""
    return "-XX:TieredStopAtLevel=1 -Xms%s -XX:+AlwaysPreTouch" % heap


def child_env(work: str, heap: str, event_log: str | None) -> dict:
    """Environment for a child run: workers import ``kgre`` from the
    checkout, and every scratch file Spark, the JVM or Python writes
    stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.extraJavaOptions": driver_java_options(heap),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    submit = []
    for k, v in conf.items():
        submit += ["--conf", "%s=%s" % (k, v)]
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "KGRE_DRIVER_MEM": heap,
        "TMPDIR": tmp,
        # every JVM (the launcher and the driver): temp files in ``work``
        # and no perf-data file in the system temp directory
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp,
        # marks every process of this run, however it was spawned
        RUN_MARK: "%d-%d" % (os.getpid(), time.time_ns()),
    })
    env.pop("KGRE_MASTER", None)
    env.pop("KGRE_SHUFFLE_PARTITIONS", None)
    return env


def _marked(mark: str) -> list[int]:
    """Live processes whose environment carries ``RUN_MARK=mark``: the
    child, its JVM and the Python daemon and workers, which Spark starts
    in a process group of their own."""
    needle = ("%s=%s" % (RUN_MARK, mark)).encode() + b"\0"
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open("/proc/%s/environ" % name, "rb") as f:
                if needle in f.read():
                    pids.append(int(name))
        except OSError:
            continue
    return pids


def stop_marked(mark: str, timeout: float = 30.0) -> None:
    """Kill every process of the run and wait until all have ended."""
    deadline = time.time() + timeout
    while True:
        pids = _marked(mark)
        if not pids or time.time() > deadline:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_child(cfg: dict, env: dict, timeout: float, meanwhile=None) -> dict:
    """Run ``child.py``, calling ``meanwhile()`` while its session starts;
    afterwards kill every process left with the run's mark (the JVM,
    Python workers) and wait until they are gone.  Returns the child's
    result JSON."""
    path = os.path.join(cfg["work"], "child-%s-%s-%d.json"
                        % (cfg["workload"], cfg["mode"], os.getpid()))
    cfg = dict(cfg, result=path + ".result")
    if os.path.exists(cfg["result"]):
        os.remove(cfg["result"])
    with open(path, "w") as f:
        json.dump(cfg, f)
    log = path + ".log"
    with open(log, "w") as logf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), path],
            env=env, cwd=cfg["work"], stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            if meanwhile is not None:
                meanwhile()
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            proc.kill()
            proc.wait()
            stop_marked(env[RUN_MARK])
    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError("%s child %s (exit %s); log tail:\n%s"
                           % (cfg["mode"], "timed out" if rc is None
                              else "failed", rc, tail))
    with open(cfg["result"]) as f:
        return json.load(f)


# ------------------------------------------------------------ report


def describe(samples: list[float]) -> str:
    """Median, the highest percentile with at least ten samples beyond it
    (none below 11 samples) and the sample count."""
    n = len(samples)
    med = statistics.median(samples)
    if n >= 11:
        pct = int(100 * (n - 10) / n)
        tail = "p%d=%.4g" % (pct, sorted(samples)[max(0, n - 11)])
    else:
        tail = "no tail percentile below 11 samples, max=%.4g" % max(samples)
    return "median=%.4g %s n=%d" % (med, tail, n)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=None,
                   help="input size (pages or documents); default per "
                        "workload")
    p.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work"),
                   help="cache and scratch directory")
    args = p.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "kgre", "__init__.py")):
        print("perfbench: no kgre package under %s" % ROOT, file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import inputs

    started = time.perf_counter()
    work = os.path.abspath(args.work)
    os.makedirs(work, exist_ok=True)
    host = host_settings()
    size = args.size or SIZES[args.workload]
    for k, v in sorted(host.items()):
        print("setting %s = %s" % (k, v))
    print("setting workload = %s, seed = %d, size = %d, seconds = %g, "
          "trace = %d, closed loop with 1 client"
          % (args.workload, args.seed, size, args.seconds, args.trace))
    print("setting worker PYTHONPATH = %s" % os.pathsep.join([ROOT, HERE]))
    print("setting driver JVM options = %s"
          % driver_java_options(host["driver_heap"]))

    in_dir = inputs.input_dir(ROOT, work, args.workload, args.seed, size)

    def prepare():
        """Generate the input and its reference (untimed: the child's
        session is still starting and waits for ``meta.json``)."""
        t0 = time.perf_counter()
        made = inputs.ensure_input(in_dir, args.workload, args.seed, size)
        print("input %s %s in %.2f s" % (
            os.path.basename(in_dir), "generated with its oracle reference"
            if made else "cached", time.perf_counter() - t0))

    cfg = {"root": ROOT, "work": work, "workload": args.workload,
           "input": in_dir, "seconds": args.seconds, "cores": host["cores"],
           "occur_count": inputs.OCCUR_COUNT, "setup_samples": 3,
           "mode": "traced" if args.trace else "timed",
           "eventlog_dir": os.path.join(work, "eventlog"),
           **inputs.CLEAN_OPTS}
    try:
        res = run_child(cfg, child_env(work, host["driver_heap"],
                                       cfg["eventlog_dir"] if args.trace
                                       else None),
                        170.0 - (time.perf_counter() - started), prepare)
    except (RuntimeError, OSError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1

    ref = res["reference"]
    attempted, failed = res["attempted"], res["failed"]
    for err in res["errors"]:
        print("failure: %s" % err.strip().replace("\n", " | "))
    walls = res["walls"]
    if not walls:
        print("perfbench: no run succeeded", file=sys.stderr)
        return 1
    print("launch (get_spark with JVM start, first Python task) %.3f s; "
          "cold warm-up pass %s s"
          % (res["launch_s"], ", ".join("%.3f" % w
                                        for w in res["warmup_walls"])))
    print("timed passes %s s; slowest %.1f%% above the fastest"
          % (", ".join("%.3f" % w for w in walls),
             100 * (max(walls) / min(walls) - 1)))
    if res.get("cpus"):
        print("timed passes: CPU %s s; peak RSS %s MB; host steal %s %%"
              % (", ".join("%.2f" % c for c in res["cpus"]),
                 ", ".join("%.0f" % (p / 2 ** 20) for p in res["peaks"]),
                 ", ".join("%.1f" % (100 * x) for x in res["steals"])))
    n_in = ref["docs"] if args.workload == "clean_kg" else ref["pages"]
    print("reference: %d triples, digest %s; oracle 1-core baseline "
          "%.1f pages/s" % (ref["triples"], ref["digest"][:16],
                            ref["oracle_pages_per_s"]))
    if args.workload == "clean_kg":
        print("reference: %d surviving docs; stages %s"
              % (ref["survivors"], json.dumps(ref["stages"],
                                              sort_keys=True)))
    print("failed_frac = %.4f (%d of %d runs raised or mismatched the "
          "reference)" % (failed / attempted, failed, attempted))

    if not args.trace:
        def per_pass(samples):
            """(samples, median) of a timing and of the two rates."""
            med = statistics.median(samples)
            return [(samples, med),
                    ([n_in / x for x in samples], n_in / med),
                    ([ref["triples"] / x for x in samples],
                     ref["triples"] / med)]

        values = dict(zip(
            [n for n, _, _ in END_TO_END[:3] + REPORTED],
            per_pass(res["cpus"]) + per_pass(walls)))
        for name, key in (("setup_s", "setup_cpus"),
                          ("setup_wall_s", "setup_walls")):
            values[name] = (res[key], statistics.median(res[key]))
        values["peak_rss_mb"] = ([p / 2 ** 20 for p in res["peaks"]],
                                 statistics.median(res["peaks"]) / 2 ** 20)
        metrics = {}
        for kind, specs in (("metric", END_TO_END),
                            ("reported", REPORTED)):
            for name, unit, _ in specs:
                samples, value = values[name]
                label = name.replace("pages", "docs") \
                    if args.workload == "clean_kg" else name
                print("%s %s [%s] = %.6g (%s)"
                      % (kind, label, unit, value, describe(samples)))
                if kind == "metric":
                    metrics[name] = {"value": value, "unit": unit}
    else:
        untraced = statistics.median(walls)
        lm = res["metrics"]
        lm["trace.layer_coverage"] = res["layer_seconds"] / untraced
        lm["trace.overhead_s"] = res["traced_wall"] - untraced
        print("traced wall %.3f s, untraced wall %.3f s (the pass before "
              "it, same process)" % (res["traced_wall"], untraced))
        names = [n for n, _, _ in PER_LAYER]
        names += sorted(k for k in lm if k not in names)
        metrics = {}
        for name in names:
            value = float(lm.get(name, 0.0))
            print("layer %s [%s] = %.6g%s" % (
                name, unit_of(name), value,
                "" if name in lm else " (layer not on this workload)"))
            if any(name == n for n, _, _ in PER_LAYER):
                metrics[name] = {"value": value, "unit": unit_of(name)}
        if args.workload == "clean_kg":
            metrics.update({k: {"value": float(v), "unit": unit_of(k)}
                            for k, v in lm.items() if k not in metrics})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
