"""Seeded benchmark of the spotify_tracks_spark engine.

    python3 perfbench/run.py --workload marts --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see perfbench/README.md); a
*job* is the unit each one times:

- ``marts``: job = full rebuild of every model, checks and publish, over
  a ``gen_sf`` play log;
- ``ingest``: job = one closed-loop REST ingest micro-batch into an
  idempotent parquet sink;
- ``refresh`` (by hand): job = streaming refresh of the four marts over
  the same play log, checked against the batch build;
- ``corpus`` (by hand): job = one pass of the corpus operators.

A traced ``marts`` run also takes one refresh, and a traced ``ingest`` run
one corpus pass, after its timed jobs, so the traced runs of the two
listed workloads reach every layer.

Set-up (session start, input generation, untimed warm-up) is timed as
``setup_s``; then jobs run until ``--seconds`` have passed (at least one).
Every timed call's output is checked.  The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``; the per-layer metrics of the
traced run with ``--trace 1``).  Each run also writes a record with host
facts (and, traced, every span) under ``.perfbench_runs/results/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUNS = ROOT / ".perfbench_runs"
# BENCHMARK.json lists the first two; the others are run by hand
WORKLOADS = ("marts", "ingest", "refresh", "corpus")

END_TO_END = {
    "setup_s": "s",
    "job_p50_s": "s",
    "job_p90_s": "s",
    "rows_per_s": "rows/s",
}

_MARTS = ("stg_recent_tracks", "dim_track", "dim_artist", "dim_album", "fct_played_track",
          "rpt_track_counts", "rpt_artist_counts", "rpt_discovery_rate")
_REFRESHED = ("dim_track", "rpt_track_counts", "rpt_artist_counts", "rpt_discovery_rate")
_TAGGED = {
    "marts": ("plans.stg_recent_tracks",
              *(f"pipeline.write_models.{m}" for m in _MARTS),
              "checks.run_reference_checks",
              "sinks.publish.publish_models"),
    "ingest": ("operators.idempotent_sink.append_if_absent",),
    "refresh": tuple(f"streaming.incremental.{m}" for m in _REFRESHED),
    "corpus": ("operators.dedup.dedup_minhash_lsh",
               "operators.dedup.dedup_clusters",
               "operators.similarity.ann_topk_ivf",
               "operators.graph.parts_copurchase_pagerank",
               "operators.graph.parts_copurchase_communities"),
}
_LAYERS = {
    "marts": {
        "sources.mapping.src_recent_tracks_s": "s",
        "pipeline.run_models_s": "s",
        "pipeline.files_written": "count",
        "pipeline.bytes_written": "bytes",
        "sinks.publish.copy_to_sqlite_s": "s",
        "sinks.publish.sql_dump_s": "s",
        "sinks.publish.http_batch_payloads_s": "s",
        "sinks.publish.payloads": "count",
    },
    "ingest": {
        "sources.rest.fetch_pages_s": "s",
        "sources.rest.pages_to_df_s": "s",
        "sources.json_flatten.flatten_payload_s": "s",
        "ingest.items_in": "count",
        "ingest.rows_appended": "count",
        "ingest.accept_ratio": "fraction",
        "ingest.sink_files": "count",
    },
    "refresh": {},
    "corpus": {f"{op}.rows": "count" for op in _TAGGED["corpus"]},
}
for _wl, _tagged in _TAGGED.items():
    _LAYERS[_wl].update({f"{t}_s": "s" for t in _tagged})
    _LAYERS[_wl].update({f"{t}.{c}": "count" for t in _tagged
                         for c in ("jobs", "tasks", "failed_tasks")})
_SHARED = {"session.get_spark_s": "s", "process.peak_rss_mb": "MB", "trace.bookkeeping_s": "s"}
# every traced run prints this whole set; a layer the run does not reach
# reads 0
PER_LAYER = {**_SHARED, **{k: u for layers in _LAYERS.values() for k, u in layers.items()}}

# untimed warm-up jobs: JIT keeps speeding ingest batches up over the first
# few; after one warm-up rebuild the next is within ~5% of later ones, and a
# second would cost ~20 s a run
WARMUP_REBUILDS = 1
WARMUP_BATCHES = 6
# tracer unit of the extra pass a traced run of a listed workload takes of a
# hand-run workload's job (refresh after marts, corpus after ingest), so the
# traced runs of the listed workloads reach every layer; it is checked but
# not part of any job metric
EXTRA_UNIT = -2
# a run must end within 180 s and an extra pass takes 30-60 s: skip it (its
# layers then read 0) when the run has already taken longer than this
EXTRA_PASS_BY_S = 100


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _stray_java() -> list[int]:
    """Pids of java processes already running (another JVM skews timings)."""
    pids = []
    for cmdline in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            argv0 = Path(cmdline).read_bytes().split(b"\0", 1)[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            pids.append(int(cmdline.split("/")[2]))
    return pids


def _source_id() -> str:
    """The git commit when there is one, else a digest of the engine's
    sources (a benchmark checkout is not a git repository)."""
    try:
        return subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        h = hashlib.sha256()
        for p in sorted((ROOT / "spotify_tracks_spark").rglob("*.py")):
            h.update(p.read_bytes())
        h.update((ROOT / "scripts" / "gen_testdata.py").read_bytes())
        return "tree-sha256:" + h.hexdigest()[:16]


def _cpu_probe_s() -> float:
    """Wall time of a fixed single-core Python loop: a slow host (noisy
    neighbours, throttling) shows here before it shows in the results."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: a virtual machine's CPUs taken
    by other guests show as steal, and slow every timing alike."""
    ticks = [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return ticks[7], sum(ticks)


def _host() -> dict:
    return {
        "nproc": _cpus(),
        "loadavg": Path("/proc/loadavg").read_text().split()[:3],
        "cpu_probe_s": _cpu_probe_s(),
        "source": _source_id(),
        "stray_java_pids": _stray_java(),
    }


def _vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def _prepare_env(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``;
    must run before pyspark is imported."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        SPARK_GRAFT_CPUS=str(_cpus()),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LAUNCHER_OPTS=java_opts,
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={run_dir / 'warehouse'}"),
            "pyspark-shell",
        ]),
    )
    tempfile.tempdir = str(tmp)
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "scripts")]


class Run:
    def __init__(self, args, run_dir: Path) -> None:
        from common import Recorder
        from tracer import Tracer

        self.args = args
        self.run_dir = run_dir
        self.rec = Recorder()
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.jvm_proc = None
        self.jvm_pid = None
        self.jvm_gc_s = 0.0  # JVM time in garbage collection over the run
        self.t0 = time.perf_counter()
        self.setup_done = 0.0
        self.extra_ok = True  # end-of-run checks outside any timed call

    def start_session(self) -> None:
        from pyspark import SparkContext
        from spotify_tracks_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=_cpus())
        self.tracer.record("session.get_spark", time.perf_counter() - t)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = SparkContext._gateway.proc
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.tracer.attach(self.spark)

    def stop_session(self) -> float:
        """Stop Spark, wait for the JVM to exit; returns its peak RSS (MB)."""
        if self.spark is None:
            return 0.0
        rss = _vm_hwm_mb(self.jvm_pid)
        mx = self.spark._jvm.java.lang.management.ManagementFactory
        self.jvm_gc_s = sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans()) / 1e3
        self.tracer.detach(self.spark)
        self.spark.stop()
        proc = self.jvm_proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        return rss

    def _extra_pass(self) -> bool:
        """Whether a traced run takes its extra pass now (see EXTRA_UNIT)."""
        if not self.args.trace:
            return False
        if time.perf_counter() - self.t0 > EXTRA_PASS_BY_S:
            _log(f"run past {EXTRA_PASS_BY_S} s; skipping the extra traced pass")
            return False
        self.tracer.unit = EXTRA_UNIT
        return True

    # -- workloads --------------------------------------------------------

    def _timed(self, step) -> None:
        """Run ``step(unit)`` until ``--seconds`` have passed (at least once)."""
        self.setup_done = time.perf_counter()
        unit = 0
        while unit == 0 or time.perf_counter() - self.setup_done < self.args.seconds:
            self.tracer.unit = unit
            step(unit)
            unit += 1

    def marts(self) -> dict:
        import marts as marts_mod

        wl = marts_mod.Marts(self.spark, self.tracer, self.rec, str(self.run_dir), self.args.seed)
        for i in range(WARMUP_REBUILDS):
            wl.rebuild(-1 - i, timed=False)
        self._timed(lambda i: wl.rebuild(i, timed=True))
        if self._extra_pass():
            wl.collect_twins()
            wl.refresh(EXTRA_UNIT, timed=False)
        return {
            "jobs": wl.rebuild_s,
            "rows": wl.plays * len(wl.rebuild_s),
            "inputs": {"gen_sf": marts_mod.MARTS_SF, "gen_seed": wl.gen_seed, "plays": wl.plays},
        }

    def refresh(self) -> dict:
        import marts as marts_mod

        wl = marts_mod.Marts(self.spark, self.tracer, self.rec, str(self.run_dir), self.args.seed)
        wl.collect_twins()
        wl.refresh(-1, timed=False)
        self._timed(lambda i: wl.refresh(i, timed=True))
        return {
            "jobs": wl.refresh_s,
            # each of the four folds drains the whole staged play log
            "rows": 4 * wl.plays * len(wl.refresh_s),
            "inputs": {"gen_sf": marts_mod.MARTS_SF, "gen_seed": wl.gen_seed, "plays": wl.plays},
        }

    def ingest(self) -> dict:
        import ingest as ingest_mod

        wl = ingest_mod.Ingest(self.spark, self.tracer, self.rec, str(self.run_dir), self.args.seed)
        for _ in range(WARMUP_BATCHES):
            wl.batch(timed=False)
        self._timed(lambda _: wl.batch(timed=True))
        self.extra_ok = wl.final_check()
        if self._extra_pass():
            import corpus as corpus_mod

            corpus_mod.Corpus(self.spark, self.tracer, self.rec, str(self.run_dir),
                              self.args.seed).run_pass(timed=False)
        return {
            "jobs": wl.batch_s,
            "rows": wl.items_in,
            "inputs": {"polls_per_batch": ingest_mod.USERS,
                       "items_per_poll": ingest_mod.NEW_PER_POLL + ingest_mod.REDELIVERED_PER_POLL,
                       "timed_batches": len(wl.batch_s), "sink_rows": len(wl.api.keys)},
        }

    def corpus(self) -> dict:
        import corpus as corpus_mod

        wl = corpus_mod.Corpus(self.spark, self.tracer, self.rec, str(self.run_dir), self.args.seed)
        wl.run_pass(timed=False)
        self._timed(lambda _: wl.run_pass(timed=True))
        return {
            "jobs": wl.pass_s,
            "rows": corpus_mod.CORPUS_DOCS * len(wl.pass_s),
            "inputs": {"corpus_docs": corpus_mod.CORPUS_DOCS, "gen_sf": corpus_mod.CORPUS_GEN_SF},
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "spotify_tracks_spark" / "__init__.py").is_file() or not (
        ROOT / "scripts" / "gen_testdata.py"
    ).is_file():
        _log(f"no engine sources under {ROOT}; run from a full checkout")
        return 2

    # the result line must be the last stdout line: route fd 1 (the JVM
    # inherits it) to stderr and keep a private handle for the result
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    host = _host()
    ticks0 = _cpu_ticks()
    if host["stray_java_pids"]:
        _log(f"WARNING: other java processes are running {host['stray_java_pids']}; "
             "timings of this run are suspect (flagged in its record)")
    run_dir = RUNS / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)

    # a SIGTERM (e.g. a timeout) still stops the JVM and removes run_dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, run_dir)
    try:
        run.start_session()
        out = getattr(run, args.workload)()
        jvm_rss = run.stop_session()
    finally:
        if run.spark is not None and run.jvm_proc.poll() is None:
            run.jvm_proc.kill()
            run.jvm_proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    jobs = out["jobs"]
    if not jobs:
        _log("no timed job succeeded; no result")
        return 1

    from common import percentile

    peak_rss_mb = _vm_hwm_mb("self") + jvm_rss
    steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
    host["cpu_steal_share"] = steal / max(1, total)
    e2e = {
        "setup_s": run.setup_done - run.t0,
        "job_p50_s": statistics.median(jobs),
        "job_p90_s": percentile(jobs, 0.9),
        "rows_per_s": out["rows"] / sum(jobs),
    }
    correct = run.rec.failed == 0 and run.rec.warmup_failed == 0 and run.extra_ok
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "inputs": out["inputs"],
        "correct": correct, "attempted": run.rec.attempted, "failed": run.rec.failed,
        "error_rate": run.rec.failed / max(1, run.rec.attempted),
        "end_to_end": e2e, "job_samples": jobs, "peak_rss_mb": peak_rss_mb,
        "jvm_gc_s": run.jvm_gc_s,
    }
    if args.trace:
        layers = {**run.tracer.per_layer(), "process.peak_rss_mb": peak_rss_mb}
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        record.update(per_layer=layers, spans=run.tracer.dump(),
                      tracing_overhead=_overhead(args.workload, e2e))
        if record["tracing_overhead"]:
            _log(f"tracing overhead vs untraced runs: {record['tracing_overhead']}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    results = RUNS / "results"
    results.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (results / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json").write_text(
        json.dumps(record, indent=1, default=str)
    )
    print(json.dumps({"correct": correct, "attempted": run.rec.attempted,
                      "failed": run.rec.failed, "metrics": metrics}), file=result_out, flush=True)
    return 0


def _overhead(workload: str, traced: dict) -> dict:
    """Traced end-to-end numbers minus the median of the untraced runs of
    the same workload recorded in this checkout (empty if there are none)."""
    untraced = []
    for p in (RUNS / "results").glob(f"{workload}-s*-t0-*.json"):
        rec = json.loads(p.read_text())
        if rec.get("correct") and rec["end_to_end"].keys() == traced.keys():
            untraced.append(rec["end_to_end"])
    if not untraced:
        return {}
    return {k: v - statistics.median(u[k] for u in untraced) for k, v in traced.items()}


if __name__ == "__main__":
    sys.exit(main())
