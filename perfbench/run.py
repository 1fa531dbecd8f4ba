"""Benchmark of record for the transcript extraction engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload markup_dense --seed 1 \\
        --seconds 12 --trace 0

One process, one Spark driver at ``local[nproc]``, a closed loop: one
job at a time, no extra threads. The workloads (reasons in NOTES.md):

* ``markup_dense``    extract_text over all-markup turns -> parquet
* ``prose_dominant``  the same job, ~90% plain-text turns
* ``event_fanout``    events(ParserConfig()) over the markup input
* ``curation_funnel`` scripts/run_curation.py as a subprocess

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` prints its per-layer metrics. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the full record (host fingerprint, input, jobs). The exit
code is 1 when any output turn is missing or wrong, 2 when the program
cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks
import eventlog
import gen
import host
import layers
import procfs
from spans import Trace

WORKLOADS = ("markup_dense", "prose_dominant", "event_fanout",
             "curation_funnel")
MIN_JOBS = 9          # timed repeats of an in-process job, at least
SETUPS = 3            # set-ups per untraced run; setup_s takes the median
WARMUP_JOBS = 6       # untimed repeats after set-up: JIT, memos
# A traced run times two sides and every layer; each side gets this
# many warm-up jobs, at least this many timed jobs and at most this many
# seconds of them, so that the run stays well inside three minutes.
TRACED_WARMUP_JOBS, TRACED_MIN_JOBS, TRACED_SECONDS = 3, 5, 6
# Spark's default 1 GB driver heap, committed from the start: the JVM's
# resident set then does not wander with G1's heap sizing, so
# peak_rss_mb follows the Python workers and the JVM's off-heap memory
JVM_CONF = {"spark.driver.extraJavaOptions": "-Xms1g"}
SAMPLE = 200          # turns compared with the kernel per output
DEADLINE_S = 150      # no new timed job starts after this
SCALE_FILES = 4       # input files of the local[1]-vs-local[nproc] job
OPS_TURNS = 200       # turns the textstats/dedup operators run on


class Bench:
    """State of one benchmark run: paths, the Spark session, spans and
    the failed/attempted turn counts."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 traced: bool):
        self.root, self.workload, self.seed = root, workload, seed
        self.traced = traced
        if traced:
            self.seconds = min(seconds, TRACED_SECONDS)
            self.warmup_jobs, self.min_jobs = (TRACED_WARMUP_JOBS,
                                               TRACED_MIN_JOBS)
        else:
            self.seconds = seconds
            self.warmup_jobs, self.min_jobs = WARMUP_JOBS, MIN_JOBS
        self.cores = host.nproc()
        self.t_start = time.monotonic()
        tag = f"{workload}-s{seed}-t{int(traced)}"
        self.work = os.path.join(root, ".perfbench", "work",
                                 f"{tag}-{os.getpid()}")
        self.results = os.path.join(root, ".perfbench", "results")
        self.input = os.path.join(self.work, "input")
        self.output = os.path.join(self.work, "output")
        self.eventlog = os.path.join(self.work, "eventlog")
        self.ops_input = os.path.join(self.work, "ops")
        self.trace = Trace(f"{tag}-{int(time.time())}")
        self.spark = None
        self.failed = 0
        self.attempted = 0
        self.record: dict = {"workload": workload, "seed": seed,
                             "seconds": seconds, "trace": int(traced),
                             "cores": self.cores}
        for d in (self.input, self.eventlog, self.results,
                  os.path.join(self.work, "tmp"),
                  os.path.join(self.work, "local")):
            os.makedirs(d, exist_ok=True)
        # keep every JVM and Python worker writing inside the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
        # one string-hash seed for every Python worker, as PySpark asks of
        # a cluster: with a random seed per run, dict and set timings
        # shifted the whole run (0.20-0.24 CPU s per kturn on one input)
        os.environ["PYTHONHASHSEED"] = "0"
        sys.path.insert(0, root)
        procfs.become_subreaper()

    # -- session -----------------------------------------------------

    def launch_jvm(self) -> float:
        """Start the driver JVM; sessions started after it reuse it."""
        from pyspark import SparkConf, SparkContext

        t0 = time.perf_counter()
        SparkContext._ensure_initialized(
            conf=SparkConf().setAll(JVM_CONF.items()))
        return time.perf_counter() - t0

    def start_session(self, cores: int, app: str, event_log: bool) -> float:
        from pyspark.sql import SparkSession

        t0 = time.perf_counter()
        self.spark = (
            SparkSession.builder.master(f"local[{cores}]").appName(app)
            .config(map=JVM_CONF)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.eventLog.enabled", str(event_log).lower())
            .config("spark.eventLog.dir", f"file://{self.eventlog}")
            .config("spark.eventLog.compress", "false")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def host_probe(self) -> float:
        """A fixed pure-JVM job: shows background load on the host."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        self.spark.range(0, 5_000_000, 1, self.cores).agg(
            F.sum("id")).collect()
        return time.perf_counter() - t0

    def close(self):
        """Stop the session, then every process the run started (the
        driver JVM outlives ``spark.stop()``), and wait for each."""
        try:
            self.stop_session()
        finally:
            ended = procfs.end_descendants()
            shutil.rmtree(self.work, ignore_errors=True)
        if not ended:
            raise RuntimeError("a child process would not end")

    def over_deadline(self) -> bool:
        return time.monotonic() - self.t_start > DEADLINE_S

    def sample(self, n: int, salt) -> list[int]:
        rng = random.Random(f"sample:{self.seed}:{salt}")
        return sorted(rng.sample(range(n), min(SAMPLE, n)))


class ExtractionWorkload:
    """markup_dense, prose_dominant and event_fanout: one in-process
    Spark job from the parquet scan to the written parquet output."""

    app = "perfbench-traced"   # the traced session's event-log name

    def __init__(self, b: Bench):
        self.b = b
        self.is_events = b.workload == "event_fanout"
        self.first = None

    def generate(self) -> float:
        b = self.b
        t0 = time.perf_counter()
        self.table, self.expected, self.plain, self.dups = gen.transcripts(
            b.seed, **gen.PARAMS[b.workload])
        self.files = gen.write_files(self.table, b.input, gen.FILES)
        gen.write_files(self.table.slice(0, OPS_TURNS), b.ops_input, 1)
        elapsed = time.perf_counter() - t0
        self.n_turns = self.table.num_rows
        b.record["input"] = gen.describe(self.table, self.plain)
        b.record["input"]["planted_dup_pairs"] = len(self.dups)
        return elapsed

    def frame(self, files=None):
        return self.b.spark.read.parquet(*(files or [self.b.input]))

    def job(self, df, out: str):
        from html_parser_spark.config import EXTRACT_CONFIG, ParserConfig
        from html_parser_spark.operators.extract import events, extract_text

        res = (events(df, ParserConfig()) if self.is_events
               else extract_text(df, EXTRACT_CONFIG))
        res.write.mode("overwrite").parquet(out)

    def check(self, salt) -> int:
        b = self.b
        out = checks.read_output(b.output)
        idx = b.sample(self.n_turns, salt)
        if self.is_events:
            bad = checks.events(out, self.table, idx, events_kernel())
        else:
            bad = checks.extract(out, self.table, self.expected, idx,
                                 extract_kernel())
        if bad:
            return len(bad)
        if self.first is None:
            self.first = out
            return 0
        return min(checks.same_as_first(self.first, out), self.n_turns)

    def run_job(self, name: str, salt, group: str | None = None) -> dict:
        b = self.b
        sc = b.spark.sparkContext
        if group:
            sc.setJobGroup(group, name)
        cpu0 = procfs.tree_cpu_s(b.jvm_pid)
        with b.trace.span(name, group=group) as sp:
            t0 = time.perf_counter()
            self.job(self.frame(), b.output)
            wall = time.perf_counter() - t0
        cpu = procfs.tree_cpu_s(b.jvm_pid) - cpu0
        if group:
            sc.setJobGroup("untimed", "between timed jobs")
        failed = self.check(salt)
        b.failed += failed
        b.attempted += self.n_turns
        return {"wall_s": wall, "cpu_s": cpu, "failed": failed,
                "span": b.trace.index(sp)}

    def set_up(self, event_log: bool, generate: bool = True) -> dict:
        """One set-up as a user pays it: input generation, a new session
        and its first job, which boots the session's Python workers."""
        b = self.b
        b.stop_session()
        gen_s = self.generate() if generate else 0.0
        session_s = b.start_session(
            b.cores, self.app if event_log else "perfbench", event_log)
        first = self.run_job("first", f"first{event_log:d}")
        return {"generate_s": gen_s, "session_s": session_s,
                "first_job_s": first["wall_s"]}

    def warm_up(self, event_log: bool) -> None:
        """Untimed jobs that let the JIT and the tokenizer's memo settle
        (not part of setup_s)."""
        for k in range(self.b.warmup_jobs):
            self.run_job("warmup", f"warmup{event_log:d}{k}")

    def timed(self, traced: bool) -> list[dict]:
        b = self.b
        prefix = "traced-" if traced else ""
        jobs: list[dict] = []
        while (len(jobs) < b.min_jobs
               or sum(j["wall_s"] for j in jobs) < b.seconds):
            if len(jobs) >= b.min_jobs and b.over_deadline():
                break
            k = len(jobs)
            jobs.append(self.run_job(f"{prefix}job", f"{prefix}{k}",
                                     f"{prefix}{k}" if traced else None))
        return jobs

    def group(self, k: int) -> str:
        return f"traced-{k}"

    def peak_rss_mb(self, jobs) -> float:
        per_process = procfs.tree_hwm_mb(self.b.jvm_pid)
        self.b.record["hwm_mb_per_process"] = per_process
        return sum(per_process)

    def layer_inputs(self):
        """(layer input, kernel sample, operator input, planted pairs)"""
        texts = self.table.column("text")
        sample = [texts[i].as_py() for i in self.b.sample(self.n_turns, "k")]
        key = [f"{c}#{t}" for c, t in zip(
            self.table.column("conv_id").to_pylist(),
            self.table.column("turn_idx").to_pylist())]
        planted = {tuple(sorted((key[i], key[j])))
                   for i, j in self.dups if max(i, j) < OPS_TURNS}
        return (self.frame(), sample, self.frame([self.b.ops_input]),
                planted)

    def scale_job(self, name: str) -> float:
        b = self.b
        with b.trace.span(name):
            self.job(self.frame(self.files[:SCALE_FILES]),
                     os.path.join(b.work, name))
        return b.trace.durations(name)[-1]


class CurationWorkload:
    """curation_funnel: scripts/run_curation.py exactly as a user runs
    it, as a subprocess with default stages, on a seeded
    documents.parquet in the testdata layout."""

    app = "transcript-curation-pipeline"

    def __init__(self, b: Bench):
        self.b = b
        self.first = None

    def generate(self) -> float:
        b = self.b
        t0 = time.perf_counter()
        self.docs, self.clusters = gen.documents(
            b.seed, **gen.PARAMS["curation_funnel"])
        gen.write_documents(self.docs, b.input)
        gen.write_documents(self.docs.slice(0, OPS_TURNS), b.ops_input)
        elapsed = time.perf_counter() - t0
        self.n_turns = self.docs.num_rows
        b.record["input"] = {
            **gen.describe(self.docs, [False] * self.n_turns),
            "planted_clusters": len(self.clusters),
            "planted_members": sum(map(len, self.clusters)),
        }
        return elapsed

    def run_job(self, name: str, conf_dir: str | None = None) -> dict:
        b = self.b
        report = os.path.join(b.work, "report.json")
        log = os.path.join(b.work, f"{name}.log")
        env = dict(os.environ)
        if conf_dir:
            env["SPARK_CONF_DIR"] = conf_dir
        cmd = [sys.executable,
               os.path.join(b.root, "scripts", "run_curation.py"),
               "--input", b.input, "--output", b.output,
               "--report", report, "--cpus", str(b.cores)]
        with open(log, "wb") as fh, b.trace.span(name) as sp:
            t0 = time.perf_counter()
            proc = subprocess.Popen(cmd, cwd=b.work, env=env, stdout=fh,
                                    stderr=subprocess.STDOUT)
            sampler = procfs.TreeSampler(proc.pid)
            while proc.poll() is None:
                sampler.sample()
                time.sleep(0.05)
            wall = time.perf_counter() - t0
        # the script's JVM exits a moment after the script does
        procfs.wait_ended(list(sampler.cpu))
        if proc.returncode != 0:
            with open(log, "rb") as fh:
                sys.stderr.write(fh.read()[-4000:].decode("utf-8", "replace"))
            failed = self.n_turns
        else:
            with open(report, encoding="utf-8") as fh:
                rep = json.load(fh)
            out = checks.read_output(b.output)
            failed = min(self.n_turns, checks.curation(
                out, rep, set(range(self.n_turns)), self.clusters))
            if self.first is None:
                self.first = out
            elif not failed:
                failed = min(checks.same_as_first(self.first, out),
                             self.n_turns)
            b.record.setdefault("funnel", rep["funnel"])
        b.failed += failed
        b.attempted += self.n_turns
        return {"wall_s": wall, "cpu_s": sampler.cpu_s,
                "peak_rss_mb": sampler.peak_rss_mb, "failed": failed,
                "span": b.trace.index(sp)}

    def set_up(self, event_log: bool, generate: bool = True) -> dict:
        # No first job: every run of the script starts its own JVM, as a
        # user's run does. The driver session runs the probe and the
        # traced layers.
        b = self.b
        b.stop_session()
        gen_s = self.generate() if generate else 0.0
        return {"generate_s": gen_s,
                "session_s": b.start_session(b.cores, "perfbench", False)}

    def warm_up(self, event_log: bool) -> None:
        pass

    def timed(self, traced: bool) -> list[dict]:
        b = self.b
        prefix = "traced-" if traced else ""
        conf = self._traced_conf() if traced else None
        jobs = [self.run_job(f"{prefix}job", conf)]
        while (sum(j["wall_s"] for j in jobs) < b.seconds
               and not b.over_deadline()):
            jobs.append(self.run_job(f"{prefix}job", conf))
        return jobs

    def _traced_conf(self) -> str:
        """A SPARK_CONF_DIR that switches the script's event log on."""
        conf = os.path.join(self.b.work, "conf-traced")
        os.makedirs(conf, exist_ok=True)
        with open(os.path.join(conf, "spark-defaults.conf"), "w",
                  encoding="utf-8") as f:
            f.write("spark.eventLog.enabled true\n"
                    f"spark.eventLog.dir file://{self.b.eventlog}\n"
                    "spark.eventLog.compress false\n")
        return conf

    def group(self, k: int) -> None:
        return None

    def peak_rss_mb(self, jobs) -> float:
        return statistics.median(j["peak_rss_mb"] for j in jobs)

    def layer_inputs(self):
        """The script's own input transform (``sources.wrap_documents``)
        feeds the layers."""
        from html_parser_spark.sources.transcripts import wrap_documents

        b = self.b
        df = wrap_documents(b.spark, b.input)
        rows = df.select("text").collect()
        sample = [rows[i][0] for i in b.sample(len(rows), "k")]
        planted = {tuple(sorted((f"{a}#0", f"{c}#0")))
                   for members in self.clusters
                   for a in members for c in members
                   if a < c < OPS_TURNS}
        return df, sample, wrap_documents(b.spark, b.ops_input), planted

    def scale_job(self, name: str) -> float:
        from html_parser_spark.config import EXTRACT_CONFIG
        from html_parser_spark.operators.extract import extract_text
        from html_parser_spark.sources.transcripts import wrap_documents

        b = self.b
        with b.trace.span(name):
            (extract_text(wrap_documents(b.spark, b.input), EXTRACT_CONFIG)
             .write.mode("overwrite").parquet(os.path.join(b.work, name)))
        return b.trace.durations(name)[-1]


def extract_kernel():
    from html_parser_spark.config import EXTRACT_CONFIG
    from html_parser_spark.functions import assemble
    from html_parser_spark.functions.tokenizer import tokenize

    def run(doc: str):
        rows = tokenize(doc, EXTRACT_CONFIG)
        txt = assemble.document_text(doc, rows, EXTRACT_CONFIG)
        return txt, assemble.collapse_ws(txt), len(rows)

    return run


def events_kernel():
    from html_parser_spark.config import ParserConfig
    from html_parser_spark.functions import project
    from html_parser_spark.functions.tokenizer import tokenize

    # events() with every field selected turns skipped-text tracking on
    cfg = ParserConfig(track_skipped_text=True)

    def run(doc: str):
        out = []
        for row in tokenize(doc, cfg):
            p = project.project(doc, row, cfg)
            p["attrs"] = p.pop("attr")
            out.append(p)
        return out

    return run


def spark_jobs(b: Bench, w, jobs: list[dict]) -> dict:
    """Event-log figures of the traced timed jobs (medians over jobs).
    Each Spark job becomes a child span of its timed job, so the job
    span's self time is the wall no Spark job covers."""
    events = eventlog.applications(b.eventlog)[w.app]
    per_job = []
    for k, j in enumerate(jobs):
        sp = b.trace.spans[j["span"]]
        window = (sp["start"], sp["end"])
        s = eventlog.summarize(events, window, b.cores, w.group(k))
        for sj in eventlog.in_window(eventlog.jobs(events, w.group(k)),
                                     window):
            b.trace.add(f"spark.job.{sj['id']}", sj["start"], sj["end"],
                        j["span"])
        s["spark.driver_gap_s"] = b.trace.self_time(j["span"])
        per_job.append(s)
    return {k: statistics.median(s[k] for s in per_job) for k in per_job[0]}


def turns_per_s(w, jobs: list[dict]) -> float:
    return w.n_turns / statistics.median(j["wall_s"] for j in jobs)


def end_to_end(w, jobs: list[dict], setup_s: float) -> dict:
    return {
        "turns_per_s": turns_per_s(w, jobs),
        "cpu_s_per_kturn": statistics.median(j["cpu_s"] for j in jobs)
        / (w.n_turns / 1000),
        "peak_rss_mb": w.peak_rss_mb(jobs),
        "setup_s": setup_s,
    }


def measure(b: Bench) -> dict:
    """Untraced: set-ups, warm-up, timed jobs, probe. Traced: one set-up
    with the event log on, the same, then every layer, then an untraced
    reference of the timed jobs (after the traced ones, so the reference
    is the warmer side and the overhead is not understated), then
    local[1].

    setup_s is the JVM launch (once per process) plus the median of
    SETUPS set-ups, each a new session in that JVM."""
    w = (CurationWorkload(b) if b.workload == "curation_funnel"
         else ExtractionWorkload(b))
    with b.trace.span("setup"):
        jvm_s = b.launch_jvm()
        set_ups = [w.set_up(b.traced)
                   for _ in range(1 if b.traced else SETUPS)]
    setup_s = jvm_s + statistics.median(sum(s.values()) for s in set_ups)
    b.record["setup"] = {"jvm_s": jvm_s, "set_ups": set_ups}
    with b.trace.span("warmup"):
        w.warm_up(b.traced)
    b.record["fingerprint"] = host.fingerprint(
        b.root, b.seed, b.spark._jvm.System.getProperty("java.version"))
    jobs = w.timed(b.traced)
    # after the timed jobs, so that its new JVM code and garbage do not
    # slow the first of them
    b.record["host_probe_s"] = b.host_probe()
    b.record["jobs"] = [{k: v for k, v in j.items() if k != "span"}
                        for j in jobs]
    e2e = end_to_end(w, jobs, setup_s)
    b.record["end_to_end"] = e2e
    if not b.traced:
        return e2e
    m = traced_layers(b, *w.layer_inputs())
    scale_n = w.scale_job("scale-n")
    b.stop_session()
    m.update(spark_jobs(b, w, jobs))
    w.set_up(False, generate=False)
    w.warm_up(False)
    ref = w.timed(False)
    b.record["reference_jobs"] = [{k: v for k, v in j.items()
                                   if k != "span"} for j in ref]
    traced_tps = e2e["turns_per_s"]
    untraced_tps = turns_per_s(w, ref)
    m.update({"trace.turns_per_s": traced_tps,
              "trace.untraced_turns_per_s": untraced_tps,
              "trace.overhead_frac": 1 - traced_tps / untraced_tps})
    b.stop_session()
    b.start_session(1, "perfbench-local1", False)
    w.scale_job("scale1-warmup")
    m["spark.scaling_eff_1to4"] = (w.scale_job("scale1")
                                   / (b.cores * scale_n))
    b.record["per_layer"] = m
    return m


def traced_layers(b: Bench, df, sample: list[str], ops_df,
                  planted: set) -> dict:
    """Spark layers over ``df``, the kernel on ``sample`` and the
    curation operators on the extracted text of ``ops_df``."""
    from html_parser_spark.config import EXTRACT_CONFIG
    from html_parser_spark.operators.extract import extract_text

    m, order_ok = layers.spark_layers(df, os.path.join(b.work, "l5"),
                                      b.trace)
    b.record["layer_order_ok"] = order_ok
    m.update(layers.kernel(sample, b.trace))
    ex = extract_text(ops_df, EXTRACT_CONFIG).selectExpr(
        "conv_id", "turn_idx", "trimmed_text AS text")
    m.update(layers.curation_ops(ex, planted, b.trace))
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    for need in ("html_parser_spark", os.path.join("scripts",
                                                   "run_curation.py")):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}; run from the "
                  "root of a checkout of the program", file=sys.stderr)
            return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    # a SIGTERM unwinds like an exception, so the finally below still
    # stops every process the run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    b = Bench(root, args.workload, args.seed, args.seconds,
              bool(args.trace))
    try:
        values = measure(b)
    finally:
        b.close()
    values["correct_frac"] = 1 - b.failed / max(b.attempted, 1)
    b.record["end_to_end"]["correct_frac"] = values["correct_frac"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec}
    b.record.update(failed=b.failed, attempted=b.attempted)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    with open(os.path.join(b.results, name + ".json"), "w",
              encoding="utf-8") as f:
        json.dump(b.record, f, indent=1)
    b.trace.write(os.path.join(b.results, name + ".spans.json"))
    print(json.dumps(b.record))
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
