#!/usr/bin/env python3
"""End-to-end benchmark of the BillMatch and CorpusBuild mains and of a list
of registry queries, with a traced per-layer run.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from src/main/scala and the harness in perfbench/harness
with the Scala compiler shipped in $SPARK_HOME/jars (no sbt), into
.bench_build/. Every round is one fresh JVM; a run makes rounds until S
seconds of job time are measured. Outputs of every round are checked against
computations made apart from the program (perfbench/checks.py). The last
line of stdout is one JSON object: correct, attempted, failed, metrics.

--trace 0 reports the end-to-end metrics, medians over the run's rounds:
  setup_s      process launch until the SparkSession is ready
  job_s        start of the job until its last output is written
  cpu_s        process CPU time (user + system) during the job
  peak_rss_mb  peak resident memory of the JVM
--trace 1 replays the workload stage by stage in one JVM and reports the
per-layer metrics (PER_LAYER below); see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen_corpus  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
SF_DIR = "/root/testdata/sf0.01"
ROUND_TIMEOUT_S = 150  # one JVM round
MORE_ROUNDS_S = 60     # no further round starts after this much of a run

# seeded inputs: documents per corpus; BillMatch's k-means k and top-K
BILLS_DOCS, KMEANS_K, TOP_K = 1500, 8, 1500
CORPUS_DOCS = 3000
REGISTRY = ["q_tfidf_features", "q_kmeans_blocks", "q_minhash_lsh",
            "q_minhash_dedup", "q_label_propagation", "q_cosine_join_exact"]

WORKLOADS = ["billmatch_kmeans", "corpus_build", "registry"]
END_TO_END = {"setup_s": "s", "job_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "io.read_s": "s", "io.write_s": "s", "io.write_mb": "MB",
    "text.featurize_s": "s", "text.nnz_per_doc": "count",
    "cluster.kmeans_s": "s",
    "candidates.join_s": "s", "candidates.pairs": "count",
    "candidates.reduction_x": "x", "candidates.shuffle_mb": "MB",
    "similarity.score_s": "s", "similarity.pairs_per_s": "1/s",
    "blocking.planted_recall": "ratio",
    "post.topk_s": "s",
    "graph.pagerank_s": "s", "graph.triangles_s": "s", "graph.edges": "count",
    "dedup.exact_s": "s", "dedup.exact_removed": "count",
    "dedup.neardup_s": "s", "dedup.neardup_pairs": "count",
    "dedup.shuffle_mb": "MB", "dedup.planted_recall": "ratio",
    "corpus.rest_s": "s",
    **{f"queries.{q}_s": "s" for q in REGISTRY},
    "queries.one_task_stages": "count",
    "jvm.gc_s": "s", "spark.spill_mb": "MB", "trace.overhead_s": "s",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


# ------------------------------------------------------------------- build

def _tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _scala_sources(d):
    return [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".scala")]


def _compile(sources, classpath, out):
    """scalac from the Spark jars, into a fresh dir renamed into place."""
    jars = os.path.join(SPARK_HOME, "jars")
    compiler = [os.path.join(jars, f"scala-{m}-2.13.17.jar")
                for m in ("compiler", "library", "reflect")]
    if not all(os.path.exists(j) for j in compiler):
        raise BenchError(f"Scala 2.13.17 compiler jars not found in {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "-classpath", ":".join(classpath + [os.path.join(jars, "*")])] + sources
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if p.returncode != 0:
        raise BenchError("scalac failed:\n" + (p.stdout + p.stderr)[-3000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile the program and the harness when their sources changed."""
    src = os.path.join(ROOT, "src", "main", "scala")
    program = _scala_sources(src) if os.path.isdir(src) else []
    if not program:
        raise BenchError(f"no program sources under {src}")
    harness = _scala_sources(os.path.join(HERE, "harness"))
    prog_dir = os.path.join(BUILD, "program-" + _tree_hash(program))
    harness_dir = os.path.join(BUILD, "harness-" + _tree_hash(program + harness))
    os.makedirs(BUILD, exist_ok=True)
    if not os.path.isdir(prog_dir):
        _compile(program, [], prog_dir)
    if not os.path.isdir(harness_dir):
        _compile(harness, [prog_dir], harness_dir)
    return [harness_dir, prog_dir]


# ----------------------------------------------------------------- running

def heap_gb():
    """Half of MemTotal, within [2, 8] GiB (the repository's test heap rule)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // (2 * 1024 * 1024)))


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, args, work):
    """One fresh JVM running the harness. Returns (setup_s, records, rss_mb)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
               SPARK_LOCAL_DIRS=tmp, SPARK_LOCAL_IP="127.0.0.1")
    env.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # a fixed heap and young generation: peak RSS then follows the
           # program's live data rather than G1's adaptive sizing
           [f"-Xms{heap_gb()}g", f"-Xmx{heap_gb()}g", "-Xmn1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join(classpath + [os.path.join(SPARK_HOME, "jars", "*")]),
            "org.apache.spark.perfbench.BenchHarness"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "ab") as err, tempfile.TemporaryFile(dir=work) as out:
        t0 = time.time()
        p = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=work, env=env)
        deadline = time.monotonic() + ROUND_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                raise BenchError(f"JVM round timed out: {args}")
            time.sleep(0.05)
        p.returncode = os.waitstatus_to_exitcode(status)
        out.seek(0)
        lines = out.read().decode(errors="replace").splitlines()
    records = [json.loads(l[6:]) for l in lines if l.startswith("BENCH ")]
    if p.returncode != 0 or not records:
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError(f"JVM exited {p.returncode} for {args}:\n{tail}")
    setup = records[0]["ready_ms"] / 1000.0 - t0
    return setup, records[-1], usage.ru_maxrss / 1024.0


def corpus_dir(kind, seed, docs):
    gen = _tree_hash([os.path.join(HERE, "gen_corpus.py")])
    d = os.path.join(BUILD, "data", f"{kind}-{seed}-{docs}-{gen}")
    if not os.path.exists(os.path.join(d, "truth.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_corpus.main(["--seed", str(seed), "--docs", str(docs), "--out", tmp])
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


class Workload:
    """Harness arguments, operation count and output check of one workload."""

    def __init__(self, name, seed):
        self.name = name
        if name == "billmatch_kmeans":
            self.data = corpus_dir("bills", seed, BILLS_DOCS)
            self.ops = 1
        elif name == "corpus_build":
            self.data = corpus_dir("corpus", seed, CORPUS_DOCS)
            self.ops = 1
        elif name == "registry":
            if not os.path.isdir(SF_DIR):
                raise BenchError(f"registry input {SF_DIR} is missing")
            self.data = SF_DIR
            self.ops = len(REGISTRY)
        else:
            raise BenchError(f"unknown workload {name}")

    def args(self, out, traced):
        if self.name == "billmatch_kmeans":
            if traced:
                return ["trace", "kmeans", self.data, out, str(KMEANS_K), str(TOP_K)]
            return ["main", "BillMatch", self.data, out, "cosine", str(KMEANS_K),
                    str(TOP_K), "kmeans"]
        if self.name == "corpus_build":
            return ["trace", "corpus", self.data, out] if traced else \
                ["main", "CorpusBuild", self.data, out]
        names = ",".join(REGISTRY)
        return ["trace", "registry", self.data, out, names] if traced else \
            ["registry", self.data, out, names]

    def check(self, out):
        """Returns the names of failed operations, or raises CheckFailed."""
        if self.name == "billmatch_kmeans":
            checks.check_billmatch(self.data, out, TOP_K)
            return []
        if self.name == "corpus_build":
            checks.check_corpus(self.data, out)
            return []
        return checks.check_registry(self.data, out, REGISTRY)


def one_round(wl, classpath, work, traced):
    out = os.path.join(work, "out")
    shutil.rmtree(out, ignore_errors=True)
    setup, rec, rss = run_jvm(classpath, wl.args(out, traced), work)
    if "job_s" not in rec:
        raise BenchError(f"no job result from {wl.name}")
    failed = [q for q in rec.get("failed", "").split(",") if q]
    try:
        failed += [q for q in wl.check(out) if q not in failed]
        correct = True
    except checks.CheckFailed as e:
        print(f"[bench] {wl.name}: check failed: {e}", file=sys.stderr)
        correct = False
    return dict(setup_s=setup, job_s=rec["job_s"], cpu_s=rec.get("cpu_s"),
                peak_rss_mb=rss, failed=len(failed), correct=correct, rec=rec)


def untraced_job_s(wl, seed):
    """job_s of this workload's untraced rounds recorded in this checkout:
    those of the same seed when there are any, else those of every seed."""
    path = os.path.join(BUILD, "results", f"{wl.name}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        recs = [json.loads(l) for l in f]
    return [r["job_s"] for r in recs if r["seed"] == seed] or [r["job_s"] for r in recs]


def record_untraced(wl, seed, rounds):
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{wl.name}.jsonl"), "a") as f:
        for r in rounds:
            f.write(json.dumps(dict(seed=seed, job_s=r["job_s"])) + "\n")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        classpath = build()
        wl = Workload(a.workload, a.seed)
        os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
        work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(BUILD, "runs"))
        try:
            rounds, measured, t0 = [], 0.0, time.monotonic()
            while not rounds or (measured < a.seconds and time.monotonic() - t0 < MORE_ROUNDS_S):
                rounds.append(one_round(wl, classpath, work, traced=bool(a.trace)))
                measured += rounds[-1]["job_s"]
            checked = list(rounds)
            if a.trace:
                base = untraced_job_s(wl, a.seed)
                if not base:
                    checked.append(one_round(wl, classpath, work, traced=False))
                    base = [checked[-1]["job_s"]]
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        print(f"[bench] {type(e).__name__}: {e}", file=sys.stderr)
        return 1

    if a.trace:
        # a layer the workload does not call reads 0
        values = {k: statistics.median(float(r["rec"].get(k) or 0.0) for r in rounds)
                  for k in PER_LAYER}
        values["trace.overhead_s"] = (statistics.median(r["job_s"] for r in rounds)
                                      - statistics.median(base))
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        record_untraced(wl, a.seed, rounds)
        metrics = {k: {"value": statistics.median(r[k] for r in rounds), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": all(r["correct"] for r in checked),
                      "attempted": wl.ops * len(rounds),
                      "failed": sum(r["failed"] for r in rounds),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
