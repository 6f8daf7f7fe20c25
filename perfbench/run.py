#!/usr/bin/env python3
"""One benchmark for the serving path and the batch operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload feed|ops-batch \
        --seed N --seconds S --trace 0|1

Builds the engine plus the harness from source (sbt, in perfbench/),
stages the workload's inputs from --seed, runs the system under test in
its own JVM, checks its outputs, and prints one JSON object as the last
line of stdout. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones (see perfbench/README.md). Exits non-zero when an output
check fails. Test-only flags: --plant dup|drop|flip, --restart 1,
--scale F (input size multiplier).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RESULTS = os.path.join(HERE, "results")
BUILD = ["sbt", "-batch", "compile", "Compile / copyResources"]

WORKLOADS = ("feed", "ops-batch")

# Input sizing (see README.md). The paced feed offers one 3,000-doc file
# per second: each batch carries one file and the engine idles between
# batches, so latency reads per-batch cost rather than queueing, even on
# a slowed host where a batch takes twice its usual ~300 ms.
BACKLOG_DOCS = 150_000
BACKLOG_FILES_PER_CORE = 3
BACKLOG_WARMUP_DRAINS = 2   # unmeasured drains of the whole backlog first
BACKLOG_DRAINS = 3          # then measured drains
PACED_RATE = 3_000           # docs/s offered
PACED_TICK_MS = 1_000        # one file per tick
PACED_WARMUP_MS = 4_000      # published before the measured window
SETUP_SAMPLES = 3            # full set-ups repeated in the warm SUT JVM; setup_s is their median
OPS_DATA = os.path.join("testdata", "sf0.01")  # under $HOME, read-only

END_TO_END = ["setup_s", "peak_rss_mb", "latency_p50_ms", "latency_p99_ms",
              "drain_docs_per_s", "ops_total_s"]
UNITS = {"setup_s": "s", "peak_rss_mb": "MiB", "latency_p50_ms": "ms",
         "latency_p99_ms": "ms", "drain_docs_per_s": "docs/s", "ops_total_s": "s"}

# the twelve batch queries of ops-batch, run in name order
OPS_QUERIES = sorted([
    "q38_pagerank", "d7_dedup_clusters", "d10_dedup_keep", "d32_span_strip",
    "d36_dedup_from_index", "d6_edit_distance", "s6_tfidf_pairs", "m15_knn_eval",
    "t17_heldout_lm", "t26_dsir_weights", "q22_salted_join", "q1_agg"])


def per_layer():
    """Every per-layer metric, in BENCHMARK.json order: (name, unit)."""
    m = [("EnvelopeSourceV2.latestOffset_ms.p50", "ms"),
         ("EnvelopeSourceV2.latestOffset_ms.p99", "ms"),
         ("EnvelopeSourceV2.offset_bytes.last", "bytes"),
         ("EnvelopeSourceV2.scan_s", "s"),
         ("microbatch.batches", "count"),
         ("microbatch.docs_per_batch.p50", "docs"),
         ("microbatch.checkpoint_bytes", "bytes")]
    for k in ("queryPlanning", "walCommit", "commitOffsets", "triggerExecution"):
        m += [(f"microbatch.{k}_ms.p50", "ms"), (f"microbatch.{k}_ms.p99", "ms")]
    m += [("decode.self_s", "s"), ("decode.dropped_ratio", "ratio"),
          ("TextOps.cleanTokens.self_s", "s"), ("TextOps.cleanTokens.tokens_per_doc", "tokens"),
          ("SentimentScorer.self_s", "s"), ("SentimentScorer.vocab_hit_ratio", "ratio"),
          ("prefix.sink_write.self_s", "s"),
          ("StreamPipeline.toJsonFiles.addBatch_ms.p50", "ms"),
          ("StreamPipeline.toJsonFiles.addBatch_ms.p99", "ms"),
          ("StreamPipeline.toJsonFiles.bytes", "bytes"),
          ("StreamPipeline.toJsonFiles.files", "count"),
          ("StreamPipeline.toJsonFiles.metadata_log_bytes", "bytes"),
          ("StreamPipeline.mergeSchemaParquetWriter.s", "s"),
          ("StreamPipeline.mergeSchemaParquetWriter.bytes", "bytes"),
          ("StreamPipeline.mergeSchemaParquetWriter.files", "count")]
    for q in OPS_QUERIES:
        m += [(f"ops.{q}.s", "s"), (f"ops.{q}.jobs", "count"),
              (f"ops.{q}.shuffle_write_bytes", "bytes"), (f"ops.{q}.spill_bytes", "bytes"),
              (f"ops.{q}.task_ms.max_over_median", "ratio")]
    m += [("failed_ratio", "ratio"), ("setup.cold_s", "s"), ("latency.samples", "count"),
          ("gen.late_ms.p99", "ms"), ("gen.docs", "count"), ("gen.files", "count"),
          ("feed.backlog_files_end", "count"), ("gen.backlog_docs", "count"),
          ("EnvelopeSourceV2.latestOffset_ms.backlog.p50", "ms"),
          ("microbatch.batches.backlog", "count"), ("jvm.gc_s", "s"),
          ("host.page_touch_gibps.pre", "GiB/s"), ("host.page_touch_gibps.post", "GiB/s"),
          ("host.nproc", "count"), ("host.heap_mb", "MiB"),
          ("scaling.drain_speedup_vs_1core", "x")]
    m += [(f"trace_overhead.{e}", UNITS[e]) for e in END_TO_END]
    return m


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ----------------------------------------------------------------

def source_digest():
    h = hashlib.sha256(" ".join(BUILD).encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building engine + harness (sbt compile)")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(os.path.join(HERE, "target", "build.log"), "w") as out:
        rc = run_proc(BUILD, cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    if rc != 0:
        fail("build failed; see perfbench/target/build.log")
    with open(STAMP, "w") as f:
        f.write(digest)


# ---- processes ------------------------------------------------------------

LIVE = []


def run_proc(cmd, timeout, **kw):
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    LIVE.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill(p)
        fail(f"timed out after {timeout}s: {' '.join(cmd[-6:])}")
    finally:
        LIVE.remove(p)


def kill(p):
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    p.wait()


def heap_gib():
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def java(main, args, heap, sut=True):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    cmd = ["java", f"-Xmx{heap}", "-XX:MaxHeapFreeRatio=100"]
    if sut:
        # a fixed young generation and a fixed, early marking threshold
        # keep the peak resident set from following G1's timing-dependent
        # eden sizing and its adaptive marking start
        cmd += ["-Xmn1g", "-XX:-G1UseAdaptiveIHOP", "-XX:InitiatingHeapOccupancyPercent=20"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + [str(a) for a in args]


class Run:
    def __init__(self, ns):
        self.ns = ns
        self.cores = len(os.sched_getaffinity(0))
        self.heap = f"{heap_gib()}g"
        self.work = os.path.join(HERE, "work", f"{ns.workload}-{ns.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.logf = open(os.path.join(self.work, "jvm.log"), "w")

    def path(self, *p):
        return os.path.join(self.work, *p)

    def jvm(self, main, args, heap=None, timeout=170, popen=False):
        cmd = java(main, args, heap or self.heap)
        log(f"start {main} {args[1] if len(args) > 1 else ''}")
        if popen:
            p = subprocess.Popen(cmd, stdout=self.logf, stderr=self.logf, start_new_session=True)
            LIVE.append(p)
            return p
        rc = run_proc(cmd, timeout, stdout=self.logf, stderr=self.logf)
        if rc != 0:
            fail(f"{main} exited {rc}; see {self.path('jvm.log')}")
        log(f"done {main}")

    def canary(self):
        out = subprocess.run(java("perfbench.Canary", [], "2g", sut=False), capture_output=True,
                             text=True, timeout=60, check=True)
        return float(out.stdout.strip().splitlines()[-1])

    def sut_args(self, workload, result, extra=()):
        a = ["--workload", workload, "--work", self.path("sut"), "--cores", self.cores,
             "--fixtures", os.path.join(ROOT, "fixtures"), "--seed", self.ns.seed,
             "--trace", self.ns.trace, "--result", result,
             "--spans", self.path("spans.json"), "--watch", self.path("watch"),
             "--queries", ",".join(OPS_QUERIES),
             "--gen", self.path("gen"), "--go", self.path("go"), "--paced-dir", self.path("paced"),
             "--one-core-watch", self.path("watch-1core"), "--gen-timeout-ms", 150_000,
             "--warmup-ms", PACED_WARMUP_MS,
             "--trace-after-ms", PACED_WARMUP_MS + 500 * self.ns.seconds,
             "--warmup-drains", BACKLOG_WARMUP_DRAINS, "--drains", BACKLOG_DRAINS,
             "--resetups", SETUP_SAMPLES,
             "--data", self.data_dir(), "--verify", self.path("verify")]
        if self.ns.plant:
            a += ["--plant", self.ns.plant, "--plant-in", self.ns.plant_in]
        return a + list(extra)

    def data_dir(self):
        return os.environ.get("PERFBENCH_OPS_DATA", os.path.join(os.path.expanduser("~"), OPS_DATA))

    # -- workloads --

    def feed(self):
        ns = self.ns
        paced_files = int((PACED_WARMUP_MS / 1000 + ns.seconds) * 1000 / PACED_TICK_MS)
        paced_docs = int(PACED_RATE * PACED_TICK_MS / 1000 * ns.scale) * paced_files
        backlog_files = BACKLOG_FILES_PER_CORE * self.cores
        cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(ns.seed),
               "--out", self.path("gen"), "--watch", self.path("watch"),
               "--vocab", os.path.join(ROOT, "fixtures", "sentiment_vocab.parquet"),
               "--go", self.path("go"), "--tick-ms", str(PACED_TICK_MS),
               "--paced-docs", str(paced_docs), "--paced-files", str(paced_files),
               "--backlog-docs", str(int(BACKLOG_DOCS * ns.scale)),
               "--backlog-files", str(backlog_files)]
        log("start gen.py")
        gen = subprocess.Popen(cmd, stdout=self.logf, stderr=self.logf, start_new_session=True)
        LIVE.append(gen)
        try:
            deadline = time.time() + 120
            while not os.path.exists(self.path("gen", "staged")):
                if gen.poll() is not None or time.time() > deadline:
                    fail(f"generator failed; see {self.path('jvm.log')}")
                time.sleep(0.05)
            res = self.path("result.json")
            if ns.restart:
                first = self.jvm("perfbench.Sut", self.sut_args("feed", res, ["--phase", "first"]),
                                 popen=True)
                while len(os.listdir(self.path("watch", "paced"))) < paced_files // 2:
                    if first.poll() is not None or gen.poll() is not None:
                        fail("first phase of the restart run ended early")
                    time.sleep(0.05)
                kill(first)
                LIVE.remove(first)
                log("cold stop: killed the first system-under-test JVM")
            self.jvm("perfbench.Sut", self.sut_args("feed", res, ["--work", self.path("sut2")]
                                                     if ns.restart else []))
            if gen.wait(timeout=60) != 0:
                fail("generator exited non-zero")
        finally:
            kill(gen)
            LIVE.remove(gen)
        if ns.trace:
            # single-thread baseline over half the backlog
            half = self.path("watch-1core")
            os.makedirs(half)
            backlog = self.path("watch", "backlog")
            for name in sorted(os.listdir(backlog))[: max(1, backlog_files // 2)]:
                os.link(os.path.join(backlog, name), os.path.join(half, name))
            r1 = self.path("result-1core.json")
            self.jvm("perfbench.Sut", self.sut_args("backlog-1core", r1, [
                "--cores", 1, "--work", self.path("sut-1core")]))
            with open(r1) as f:
                self.one_core = json.load(f)["layers"]["drain_docs_per_s_1core"]
        return res

    def ops_batch(self):
        if not os.path.isdir(self.data_dir()):
            fail(f"ops-batch data directory {self.data_dir()} is missing")
        res = self.path("result.json")
        self.jvm("perfbench.Sut", self.sut_args("ops-batch", res))
        return res


def oracle_failures(run):
    """Runs tools/oracle_check.py over the dumped ops results; returns
    the queries that did not pass (a missing result never passes)."""
    import contextlib
    import importlib.util
    import io
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        rc = oc.main(run.data_dir(), run.path("verify"))
    lines = report.getvalue().splitlines()
    passed = {l.split()[1] for l in lines if l.startswith("PASS ")}
    linted = {l.split()[1].rstrip(":") for l in lines if l.startswith("LINTFAIL ")}
    failed = [q for q in OPS_QUERIES if q not in passed or q in linted]
    for l in lines:
        if not l.startswith("PASS "):
            log(f"oracle_check: {l}")
    if rc != 0 and not failed:
        fail("oracle_check failed outside the ops queries")
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("dup", "drop", "flip"))
    ap.add_argument("--plant-in", choices=("paced", "backlog"), default="paced")
    ap.add_argument("--restart", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ns = ap.parse_args()
    if (ns.restart or ns.plant) and ns.workload != "feed":
        fail("--restart and --plant apply to the feed workload only")
    for need in ("src/main/scala/graft", "fixtures/sentiment_vocab.parquet",
                 "fixtures/sentiment_meta.parquet", "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a repository checkout: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    build()
    run = Run(ns)
    try:
        pre = run.canary()
        res_path = {"feed": run.feed, "ops-batch": run.ops_batch}[ns.workload]()
        with open(res_path) as f:
            res = json.load(f)
        post = run.canary()
        attempted, failed = res["attempted"], res["failed"]
        layers = dict(res["layers"])
        if ns.workload == "ops-batch":
            bad = oracle_failures(run)
            failed += len(bad)
            res["info"]["oracle_failed"] = bad
            layers["failed_ratio"] = failed / attempted
        e2e = dict(res["e2e"])
        setups = res["info"]["setup_samples_s"]
        host = {"nproc": run.cores, "heap": run.heap, "heap_max_mb": res["info"]["heap_max_mb"],
                "page_touch_gibps_pre": pre, "page_touch_gibps_post": post,
                "jvm_gc_s": res["info"]["gc_s"],
                "gen_late_ms_p99": res["info"].get("gen_late_ms_p99", layers.get("gen.late_ms.p99"))}
        layers.update({"jvm.gc_s": res["info"]["gc_s"], "host.page_touch_gibps.pre": pre,
                       "host.page_touch_gibps.post": post, "host.nproc": run.cores,
                       "host.heap_mb": res["info"]["heap_max_mb"]})
        if ns.trace and ns.workload == "feed":
            layers["scaling.drain_speedup_vs_1core"] = e2e["drain_docs_per_s"] / run.one_core
        record = {"workload": ns.workload, "seed": ns.seed, "seconds": ns.seconds,
                  "trace": ns.trace, "host": host, "setup_samples_s": setups,
                  "e2e": e2e, "layers": layers, "info": res["info"]}
        os.makedirs(RESULTS, exist_ok=True)
        tag = f"{ns.workload}-seed{ns.seed}-trace{ns.trace}"
        with open(os.path.join(RESULTS, tag + ".json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        if ns.trace:
            shutil.copy(run.path("spans.json"), os.path.join(RESULTS, tag + ".spans.json"))
        print("perfbench-host " + json.dumps(host, sort_keys=True))
        if ns.trace:
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in per_layer()}
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": UNITS[n]} for n in END_TO_END}
        print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
        sys.stdout.flush()
        return 0 if failed == 0 else 1
    finally:
        for p in list(LIVE):
            kill(p)
        run.logf.close()
        shutil.rmtree(run.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
