#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <ingest|index|batch> --seed N \
        --seconds S --trace <0|1>

Run from the root of a graft checkout. Builds graft and the benchmark from
that checkout with sbt (offline; the classpath is cached in .bench_build/
under a fingerprint of the sources), runs the workload in one JVM at the
fixed local[k] and heap of perfbench/config.json, checks its outputs and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (BENCHMARK.json
`end_to_end`). With --trace 1 the JVM measures three windows, untraced,
traced, untraced (see Measure.scala); the metrics are the per-layer ones,
taken from the traced window, plus the wall-clock figures of the first
window and the tracing overhead. Every run's summary is kept in
.bench_build/runs/ for perfbench/layers.py.

Exit codes: 0 correct, 1 a correctness check failed (the JSON line is still
printed), 2 the run could not be made (no JSON line).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import checks
import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("ingest", "index", "batch")
# The JVM must end within this many seconds of the end of the build.
RUN_LIMIT_S = 172

# JDK 17 module opens Spark needs outside spark-submit (as in ../build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class RunError(Exception):
    """The run could not be made: no result is printed."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------- build

def fingerprint():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles graft and the benchmark; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise RunError(f"no graft sources next to {HERE.name}/ (run from a checkout root)")
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RunError("sbt not found on PATH")
    cp_file = BUILD / f"classpath-{fingerprint()}.txt"
    if cp_file.is_file():
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    BUILD.mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.log.noformat=true"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    build_log = BUILD / "build.log"
    log("building graft and the benchmark (sbt)")
    t0 = time.time()
    with open(build_log, "w") as out:
        rc = subprocess.run([sbt, "--batch", *opts, "export perfbench/Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    lines = build_log.read_text().strip().splitlines()
    if rc != 0 or not lines:
        raise RunError(f"build failed (rc={rc}); see {build_log}:\n" + "\n".join(lines[-20:]))
    cp = lines[-1].strip()
    if not all(Path(p).exists() for p in cp.split(os.pathsep)):
        raise RunError(f"build printed no usable classpath; see {build_log}")
    log(f"built in {time.time() - t0:.0f} s")
    cp_file.write_text(cp)
    return cp


# --------------------------------------------------------------- run

def flatten(conf, prefix=""):
    out = {}
    for k, v in conf.items():
        if isinstance(v, dict):
            out.update(flatten(v, f"{prefix}{k}."))
        else:
            out[f"{prefix}{k}"] = v
    return out


def run_jvm(cp, conf, workload, seed, seconds, traced, deadline):
    """Runs the workload in a fresh JVM; returns its raw record and work dir."""
    work = BUILD / "work" / f"{workload}-{os.getpid()}-{int(traced)}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "raw.json"
    settings = dict(flatten({k: v for k, v in conf.items() if k not in ("heap",)}),
                    workload=workload, seed=seed, seconds=seconds, trace=int(traced),
                    work=work, out=out)
    java = shutil.which("java")
    if java is None:
        raise RunError("java not found on PATH")
    # GC threads kept below the host's CPUs, next to the k task threads
    cmd = [java, f"-Xmx{conf['heap']}", f"-Xms{conf['heap']}", "-XX:ParallelGCThreads=2",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
           *[f"{k}={v}" for k, v in settings.items()]]
    jvm_log = work / "jvm.log"
    with open(jvm_log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM / Ctrl-C: the JVM never outlives the launcher
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not out.is_file():
        lines = jvm_log.read_text(errors="replace").splitlines()
        causes = [x for x in lines if "Exception" in x and not x.startswith("\t")][:3]
        shutil.copy(jvm_log, BUILD / f"failed-{workload}.log")
        shutil.rmtree(work, ignore_errors=True)
        raise RunError(f"{workload} JVM failed (rc={rc}), log kept in {BUILD.name}/failed-{workload}.log:\n"
                       + "\n".join(causes + lines[-10:]))
    return json.loads(out.read_text()), work


# --------------------------------------------------------------- metrics

def spans_named(raw, name, phase):
    return [s for s in raw["spans"] if s["name"] == name and s["phase"] == phase]


def dur_s(span):
    return (span["end"] - span["start"]) / 1e3


def commit_ms(p):
    return p["start"] + p["ms"].get("triggerExecution", 0)


def setup_s(raw):
    return (raw["measured_start"] - raw["jvm_start"]) / 1e3 - raw["gen_s"]


def latency_metrics(lat):
    return {"latency_p50_s": stats.percentile(lat, 50),
            "latency_p99_s": stats.percentile(lat, 99)}


class Ingest:
    """Each segment's paced phase: per-event latency from scheduled creation
    to the commit of the micro-batch that first holds the event. Its backlog
    phase: the drain of a fixed backlog (result_s) and its distinct rows per
    second. Every figure is the median over the measured segments."""

    def __init__(self, raw):
        self.raw = raw
        ing = raw["ingest"]
        self.progress = ing["progress"]
        # the source log numbers its own offsets; map them to the query
        # batch that first reached each one
        batch_of_offset = {}
        for p in self.progress:
            if p["source_end"]:
                batch_of_offset.setdefault(json.loads(p["source_end"])["logOffset"], p["batch"])
        self.batch_of_file = {f: batch_of_offset[o] for f, o in
                              checks.source_log_offsets(Path(ing["source_log"])).items()
                              if o in batch_of_offset}
        self.events = checks.read_events(Path(ing["watch"]))
        self.check = checks.ingest_exactly_once(self.events, Path(ing["sink"]))
        c = self.check
        self.attempted = c["sent"]
        self.failed = c["missing"] + c["duplicated"] + c["wrong"]
        if c["sent_sum"] != c["committed_sum"]:
            self.failed = max(self.failed, 1)
        self.per_cycle = {}
        self.first_batch = {}
        for eid, _t, _v, fname in self.events:
            b = self.batch_of_file.get(fname)
            if b is not None:
                self.first_batch[eid] = min(b, self.first_batch.get(eid, b))

    def cycle(self, seg, commit):
        """One segment: the latencies of its paced events (re-sends once,
        the unmeasured lead left out) and the drain of its backlog."""
        origin = self.raw["ingest"]["origin_ms"]
        lo, hi = seg["lead_ms"], seg["lead_ms"] + seg["paced_ms"]
        due = {}  # event id -> wall time its creation was scheduled
        for eid, t_ms, _v, fname in self.events:
            off = t_ms - origin
            if fname.startswith(seg["prefix"]) and lo <= off < hi:
                due[eid] = seg["paced_t0"] + off
        lat = [(commit[self.first_batch[e]] - d) / 1e3 for e, d in due.items()
               if self.first_batch.get(e) in commit]
        t_b = seg["backlog_t0"]
        drained = [commit_ms(p) for p in self.progress
                   if t_b <= p["start"] <= seg["end"] and p["rows"] > 0]
        drain_s = (max(drained) - t_b) / 1e3 if drained else None
        return lat, drain_s, seg["backlog_distinct"]

    def e2e(self, phase):
        """Medians over the phase's segments of each segment's figures."""
        commit = {p["batch"]: commit_ms(p) for p in self.progress}
        cycles = [self.cycle(seg, commit) for seg in self.raw["ingest"]["segments"][phase]]
        drains = [d for _, d, _ in cycles]
        self.samples = [len(lat) for lat, _, _ in cycles]
        self.cycles = len(cycles)
        self.per_cycle[phase] = [[round(stats.percentile(lat, 50), 3),
                                  round(stats.percentile(lat, 99), 3), round(d, 3)]
                                 for lat, d, _ in cycles if lat and d]
        out = {"setup_s": setup_s(self.raw), "peak_rss_mb": self.raw["peak_rss_mb"],
               # the JVM's CPU time while a cycle's backlog lands and drains
               "cpu_s": stats.median(s["cpu_s"] for s in spans_named(
                   self.raw, "ingest.backlog", phase)),
               "rows_per_s": None, "result_s": None}
        if None not in drains:
            out["rows_per_s"] = stats.median(n / d for _, d, n in cycles)
            out["result_s"] = stats.median(drains)
        for name, p in (("latency_p50_s", 50), ("latency_p99_s", 99)):
            out[name] = stats.median(stats.percentile(lat, p) for lat, _, _ in cycles)
        return out

    def layers(self, phase):
        raw, ing = self.raw, self.raw["ingest"]
        segs = ing["segments"][phase]

        def seg_of(p):
            return next((g for g in segs if g["start"] <= p["start"] <= g["end"]), None)

        mine = [p for p in self.progress if seg_of(p)]
        paced = [p for p in mine if p["start"] < seg_of(p)["backlog_t0"] and p["rows"] > 0]
        start = {p["batch"]: p["start"] for p in self.progress}
        landed = {x["file"]: x for g in segs for x in g["landed"]}
        lag = [(start[self.batch_of_file[f]] - x["landed"]) / 1e3
               for f, x in landed.items() if self.batch_of_file.get(f) in start]
        backlog = [sum(1 for f, x in landed.items()
                       if x["landed"] <= p["start"] and self.batch_of_file.get(f, -1) >= p["batch"])
                   for p in paced]
        sink_files, sink_bytes = checks.parquet_files(Path(ing["sink"]))
        c = self.check
        out = {
            "core.app_init_s": dur_s(spans_named(raw, "core.app_init", "setup")[0]),
            "core.query_start_s": dur_s(spans_named(raw, "core.query_start", "setup")[0]),
            "sources.generate_s": dur_s(spans_named(raw, "sources.generate", "setup")[0]),
            "sources.lag_s_p50": stats.median(lag),
            "sources.backlog_files_max": max(backlog) if backlog else 0,
            "gen.late_ms_max": max(x["landed"] - x["sched"] for x in landed.values()),
            "sinks.generate_s": dur_s(spans_named(raw, "sinks.generate", "setup")[0]),
            "sinks.files_written": sink_files,
            "sinks.mb_written": sink_bytes / 2**20,
            "sinks.duplicate_rows": c["rows"] - (c["sent"] - c["missing"]),
            "run.latency_samples": sum(self.samples),
            "run.cycles": self.cycles,
        }
        out.update(stream_layers(mine))
        ops = [(p["start"], commit_ms(p), ("batch", ing["query_group"], p["batch"])) for p in mine]
        out.update(spark_layers(raw, ops, phase_groups(raw, phase) | {ing["query_group"]}))
        return out

    def detail(self):
        # the percentiles are taken per segment: the smallest one bounds them
        return {"exactly_once": self.check, "latency_samples": self.samples,
                # per segment: latency p50, p99 and backlog drain seconds
                "cycles": self.per_cycle,
                "cycle_cpu_s": [round(s["cpu_s"], 3) for s in
                                spans_named(self.raw, "ingest.backlog", "measured")],
                "supported_percentile": stats.highest_supported_percentile(min(self.samples))}


def index_ops(raw):
    """(micro-batches attempted, failed) of the incremental-index streams
    outside warm-up: every batch of a stream that failed, or whose twin
    failed its check, counts as failed."""
    ix = raw.get("index")
    if not ix:
        return 0, 0
    streams = [s for s in ix["streams"] if s["phase"] != "warmup"]
    failed = sum(ix["chunks"] for s in streams if not s["ok"] or not ix["checks"][s["twin"]])
    return ix["chunks"] * len(streams), failed


def index_streams(raw, phase):
    return [s for s in raw["index"]["streams"] if s["phase"] == phase]


def index_layers(raw, phase):
    """ops.index.* of the twins' streams in `phase`: micro-batch wall time
    (trigger start to commit), processBatch time and jobs, growth across a
    stream, compaction, the final read and the state left on disk."""
    out = {}
    for t in ("text", "embed"):
        mine = [s for s in index_streams(raw, phase) if s["twin"] == t]
        data = [[p for p in s["progress"] if p["rows"] > 0] for s in mine]
        times = [[(commit_ms(p) - p["start"]) / 1e3 for p in d] for d in data]
        pb = spans_named(raw, f"ops.index.{t}.process_batch", phase)
        out.update({
            f"ops.index.{t}.batch_p50_s": stats.median(x for ts in times for x in ts),
            f"ops.index.{t}.process_batch_s_p50": stats.median(dur_s(s) for s in pb),
            f"ops.index.{t}.jobs_per_batch": stats.median(group_counts(raw, [s["id"] for s in pb])),
            f"ops.index.{t}.growth": stats.median(
                g for g in map(stats.growth, times) if g is not None),
            f"ops.index.{t}.compact_s": stats.median(
                dur_s(s) for s in spans_named(raw, f"ops.index.{t}.compact", phase)),
            f"ops.index.{t}.final_read_s": stats.median(
                dur_s(s) for s in spans_named(raw, f"ops.index.{t}.final_read", phase)),
            f"ops.index.{t}.state_files": mine[-1]["state_files"] if mine else 0,
            f"ops.index.{t}.state_mb": mine[-1]["state_bytes"] / 2**20 if mine else 0,
        })
    return out


class Index:
    """result_s: a round (one stream of each twin through compaction and the
    final read). Latency: every staged row is due when its stream starts and
    done when the micro-batch that ingests it commits."""

    def __init__(self, raw):
        self.raw = raw
        self.attempted, self.failed = index_ops(raw)

    def e2e(self, phase):
        raw = self.raw
        lat, rows = [], []
        for s in index_streams(raw, phase):
            data = [p for p in s["progress"] if p["rows"] > 0]
            if data:
                lat += [(commit_ms(p) - data[0]["start"]) / 1e3
                        for p in data for _ in range(p["rows"])]
                rows.append(sum(p["rows"] for p in data))
        rounds = [dur_s(s) for s in spans_named(raw, "index.round", phase)]
        result = stats.median(rounds)
        self.samples, self.rounds = len(lat), len(rounds)
        out = {"setup_s": setup_s(raw), "peak_rss_mb": raw["peak_rss_mb"],
               "cpu_s": stats.median(s["cpu_s"] for s in spans_named(raw, "index.round", phase)),
               # rows of both twins' corpora per second of a round
               "rows_per_s": 2 * stats.median(rows) / result if rows and result else None,
               "result_s": result}
        out.update(latency_metrics(lat))
        return out

    def layers(self, phase):
        raw = self.raw
        out = {"run.latency_samples": self.samples, "run.rounds": self.rounds}
        out.update(index_layers(raw, phase))
        out.update(stream_layers([p for s in index_streams(raw, phase) for p in s["progress"]]))
        ops = [(s["start"], s["end"], ("group", str(s["id"])))
               for t in ("text", "embed")
               for s in spans_named(raw, f"ops.index.{t}.process_batch", phase)]
        out.update(spark_layers(raw, ops, phase_groups(raw, phase)))
        out.update(function_layers(raw))
        return out

    def detail(self):
        ix = self.raw["index"]
        return {"checks": ix["checks"], "warmup_rounds": ix["warmup_rounds"],
                "rounds": {p: [round(dur_s(s), 3) for s in self.raw["spans"]
                               if s["name"] == "index.round" and s["phase"] == p]
                           for p in ("warmup",) + MEASURED}}


class Batch:
    """Each query's latency is its median execution time over the measured
    passes; result_s is the sum of those medians (a pass of the mix at the
    median) and the latency percentiles are taken over them, one value per
    query. A traced run adds the index twins' micro-batches as operations."""

    def __init__(self, raw):
        self.raw = raw
        b = raw["batch"]
        self.oracle = checks.batch_oracles(Path(b["tables"]), Path(b["results"]), b["oracles"])
        execs = self.execs(None)
        ix_attempted, ix_failed = index_ops(raw)
        self.attempted = len(execs) + ix_attempted
        self.failed = ix_failed + sum(
            1 for s in execs if not s["ok"] or not self.oracle[s["query"]]["ok"])
        self.table_rows = checks.table_rows(Path(b["tables"]))

    def execs(self, phase):
        return [s for s in self.raw["spans"] if s.get("query") and
                (s["phase"] == phase if phase else s["phase"] in MEASURED)]

    def query_s(self, phase, of=dur_s):
        """Median of `of` (wall seconds by default) of each query of the
        mix over `phase`."""
        execs = [s for s in self.execs(phase) if s["ok"]]
        return {n: stats.median(of(s) for s in execs if s["query"] == n)
                for n in self.raw["batch"]["mix"]}

    def e2e(self, phase):
        per_query = self.query_s(phase)
        result = None if None in per_query.values() else sum(per_query.values())
        per_query_cpu = self.query_s(phase, of=lambda s: s["cpu_s"])
        self.samples = len(self.execs(phase))
        self.passes = len(spans_named(self.raw, "batch.pass", phase))
        out = {"setup_s": setup_s(self.raw), "peak_rss_mb": self.raw["peak_rss_mb"],
               "cpu_s": (None if None in per_query_cpu.values()
                         else sum(per_query_cpu.values())),
               # closed loop, one client: input rows of the mix's tables per second
               "rows_per_s": self.table_rows / result if result else None,
               "result_s": result}
        out.update(latency_metrics([] if result is None else per_query.values()))
        return out

    def layers(self, phase):
        raw, b = self.raw, self.raw["batch"]
        execs = self.execs(phase)
        out = {"run.latency_samples": self.samples, "run.passes": self.passes,
               "plans.topk_nodes": sum(b["topk_nodes"].values())}
        for name in b["mix"]:
            mine = [s for s in execs if s["query"] == name]
            ids = [s["id"] for s in mine]
            out[f"queries.{name}_s"] = stats.median(dur_s(s) for s in mine)
            out[f"queries.{name}.jobs"] = stats.median(group_counts(raw, ids))
            out[f"queries.{name}.shuffle_mb"] = stats.median(
                group_sum(raw, i, "shuffle_write_b") for i in ids) / 2**20
        ops = [(s["start"], s["end"], ("group", str(s["id"]))) for s in execs]
        out.update(spark_layers(raw, ops, phase_groups(raw, phase)))
        out.update(function_layers(raw))
        if "index" in raw:
            out.update(index_layers(raw, "index"))
            out.update(stream_layers([p for s in index_streams(raw, "index") for p in s["progress"]]))
        return out

    def detail(self):
        out = {"oracle": {k: v["why"] for k, v in self.oracle.items()},
               "query_s": self.query_s("measured"),
               "query_cpu_s": self.query_s("measured", of=lambda s: s["cpu_s"]),
               "pass_cpu_s": [round(s["cpu_s"], 3) for s in
                              spans_named(self.raw, "batch.pass", "measured")],
               "passes": {p: [round(dur_s(s), 3) for s in spans_named(self.raw, "batch.pass", p)]
                          for p in ("warmup",) + MEASURED}}
        if "index" in self.raw:
            out["index"] = {"checks": self.raw["index"]["checks"],
                            "round_s": [round(dur_s(s), 3)
                                        for s in spans_named(self.raw, "index.round", "index")]}
        return out


def stream_layers(progress):
    data = [p for p in progress if p["rows"] > 0]
    out = {"stream.batches": len(progress),
           "stream.rows_per_batch_p50": stats.median(p["rows"] for p in data) or 0}
    for k in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "triggerExecution"):
        out[f"stream.{k}_ms_p50"] = stats.median(p["ms"].get(k, 0) for p in data) or 0
    return out


def phase_groups(raw, phase):
    return {str(s["id"]) for s in raw["spans"] if s["phase"] == phase}


def group_counts(raw, ids):
    wanted = {str(i) for i in ids}
    counts = {i: 0 for i in wanted}
    for j in raw["jobs"]:
        if j["group"] in wanted:
            counts[j["group"]] += 1
    return list(counts.values())


def group_sum(raw, span_id, key):
    return sum(st[key] for st in raw["stages"] if st["group"] == str(span_id))


def spark_layers(raw, ops, groups):
    """Spark resources of the traced window, attributed by job group, and
    the driver gap of each traced operation (its wall time not covered by
    its own jobs)."""
    jobs = [j for j in raw["jobs"] if j["group"] in groups and j["end"] >= 0]
    stages = [s for s in raw["stages"] if s["group"] in groups]

    def jobs_of(key):
        if key[0] == "batch":
            return [(j["start"], j["end"]) for j in jobs
                    if j["group"] == key[1] and j["batch"] == str(key[2])]
        return [(j["start"], j["end"]) for j in jobs if j["group"] == key[1]]

    gap = sum(stats.driver_gap(s, e, jobs_of(k)) for s, e, k in ops) / 1e3
    wall = sum(e - s for s, e, _ in ops) / 1e3
    skews = [max(s["task_ms"]) / stats.median(s["task_ms"])
             for s in stages if len(s["task_ms"]) >= 2 and stats.median(s["task_ms"]) > 0]
    return {
        "spark.jobs": len(jobs), "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.task_busy_s": sum(s["run_s"] for s in stages),
        "spark.gc_s": sum(s["gc_s"] for s in stages),
        "spark.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / 2**20,
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / 2**20,
        "spark.spill_mb": sum(s["spill_b"] for s in stages) / 2**20,
        "spark.op_wall_s": wall,
        "spark.driver_gap_s": gap,
        "spark.driver_gap_share": gap / wall if wall else 0,
        "spark.task_skew_max": max(skews) if skews else 0,
    }


def function_layers(raw):
    return {f"functions.{name}_rows_per_s": rec["rows"] / stats.median(rec["seconds"])
            for name, rec in raw.get("functions", {}).items()}


WORKLOAD = {"ingest": Ingest, "index": Index, "batch": Batch}
# Wall-clock figures every workload measures. They move with the CPU time
# other guests take from this VM (runs of the same code on a shared host
# spread by up to 45% in busy periods), so they are per-layer figures; the
# bounded end-to-end figures are setup_s, peak_rss_mb and cpu_s.
WALL = ("latency_p50_s", "latency_p99_s", "rows_per_s", "result_s")
# The measured windows of a run, in order (Measure.scala): an untraced run
# has the first only; a traced run all three.
MEASURED = ("measured", "traced", "remeasured")


# --------------------------------------------------------------- main

def load_config():
    return json.loads((HERE / "config.json").read_text())


def cpu_times():
    """(busy, steal, total) jiffies of all CPUs since boot. Steal is time
    the hypervisor gave the CPUs to other guests."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    idle, steal = f[3] + f[4], f[7]
    return sum(f) - idle - steal, steal, sum(f)


def share(a, b, i):
    """Part i of the CPU time between samples a and b, as a share of it."""
    return (b[i] - a[i]) / max(1, b[2] - a[2])


def benchmark_spec():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def evaluate(raw):
    """End-to-end metrics of each measured phase, per-layer metrics of the
    traced phase (if any), operations attempted and failed, and details."""
    w = WORKLOAD[raw["workload"]](raw)
    phases = MEASURED if raw["traced"] else MEASURED[:1]
    e2e = {}
    for p in phases:
        e2e[p] = w.e2e(p)
        for k, v in e2e[p].items():
            if v is None:
                raise RunError(f"{raw['workload']}: metric {k} could not be measured")
    layers = {}
    if raw["traced"]:
        layers = w.layers("traced")
        layers["core.session_s"] = raw["session_s"]
        for k in ("cpu_s", "result_s", "latency_p50_s"):
            before, traced, after = (e2e[p][k] for p in MEASURED)
            layers[f"trace.base_{k}"] = (before + after) / 2
            layers[f"trace.overhead_{k}"] = stats.tracing_overhead(before, traced, after)
        # wall-clock figures of the first (untraced) window
        for k in WALL:
            layers[f"wall.{k}"] = e2e["measured"][k]
    return e2e, layers, w.attempted, w.failed, w.detail()


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        e2e_units, layer_units = benchmark_spec()
        conf = load_config()
        cp = build()
        # the load average still carries a run that has just ended, so the
        # busy-host flag reads the CPUs over the half second before the start
        load_start = os.getloadavg()[0]
        before = cpu_times()
        time.sleep(0.5)
        start = cpu_times()
        busy_start = share(before, start, 0)
        if busy_start > 0.25:
            log(f"WARNING: CPUs {busy_start:.0%} busy at start, load average {load_start:.1f} "
                "(another workload is active; timings will be inflated)")
        raw, work = run_jvm(cp, conf, args.workload, args.seed, args.seconds,
                            bool(args.trace), time.time() + RUN_LIMIT_S)
        e2e, layers, attempted, failed, detail = evaluate(raw)
        detail["gen_s"] = raw["gen_s"]
        spans = checks.span_rollup(raw, ("traced", "index")) if args.trace else {}
        shutil.rmtree(work, ignore_errors=True)
        load_end = os.getloadavg()[0]
        steal = share(start, cpu_times(), 1)
    except RunError as e:
        log(str(e))
        return 2
    layers.update({"host.load_start": load_start, "host.load_end": load_end,
                   "host.busy_start": busy_start, "host.steal_share": steal})
    detail.update(busy_start=busy_start, steal_share=steal)
    summary = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "traced": bool(args.trace), "e2e": e2e, "layers": layers, "spans": spans,
               "attempted": attempted, "failed": failed, "detail": detail}
    runs_dir = BUILD / "runs"
    runs_dir.mkdir(parents=True, exist_ok=True)
    kind = "traced" if args.trace else "plain"
    path = runs_dir / f"{args.workload}-seed{args.seed}-{kind}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    path.write_text(json.dumps(summary, indent=1, sort_keys=True))
    for phase, m in e2e.items():
        log(f"{args.workload} {phase}: " + ", ".join(f"{k}={v:.4g}" for k, v in m.items()))
    log(f"attempted={attempted} failed={failed}; {json.dumps(detail)}")
    log(f"load average {load_start:.2f} -> {load_end:.2f}, CPU steal {steal:.1%}; run summary {path}")
    if args.trace:
        # a layer the workload does not use did no work in it: 0
        values = {k: layers.get(k, 0.0) for k in layer_units}
        units = layer_units
    else:
        values, units = e2e["measured"], e2e_units
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}}
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
