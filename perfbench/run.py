"""The repository benchmark: sparkdedup driven from outside, at local[nproc].

    python3 perfbench/run.py --workload bulk|skewed --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from the seed; the
program only sees the staged parquet. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 (end-to-end): after set-up, `DedupPipeline.run` is repeated on
the same files for S seconds (at least once), each run with a fresh
workdir; `files_per_s` is files / the median run wall. Every run's output
is checked; a run whose check fails counts as a failed operation.

--trace 1 (per layer): one untraced `run()` (checked as above) for the
reconciliation, then the same stages again through the `operators.*`
functions, each in its own span with Spark counters, the `functions.*`
kernels in this process, and an identity `mapInPandas`. The stage-by-stage
pass must give run()'s edges, clusters and CC rounds; if it does not, that
counts as a failed operation.

`skewed` runs with `max_cc_iters` raised (SKEWED_MAX_CC_ITERS): its chains
need more connected-components rounds than the default cap of 50, and at
that cap `run()` returns clusters that differ from the closure of its own
edges. `operators.components.converged` reports whether the rounds the
run took fit under the default cap.

Metric names and units come from BENCHMARK.json; layers a workload does
not exercise report 0.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bulk", "skewed")
# explicit heap: the session default (48g) exceeds this machine, and a
# 9,600-file skewed input failed its hash-join builds at 3g
DRIVER_MEMORY = "6g"
# far above the rounds the skewed chains need (50-60); a run that still
# hit it would leave labels that the closure check counts as wrong
SKEWED_MAX_CC_ITERS = 1000


def workload_config(workload: str):
    from sparkdedup.config import DedupConfig

    if workload == "skewed":
        return DedupConfig(max_cc_iters=SKEWED_MAX_CC_ITERS)
    return DedupConfig()


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _reset_hwm() -> None:
    """Restart this process's peak-RSS count, so input generation and the
    oracle (benchmark work) do not count as the driver's memory."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _oracle_key(files) -> str:
    """Cache key of the bulk oracle: the corpus itself, the config and the
    source of the oracle and of every kernel it imports, so an entry made
    by other code or other inputs is never reused."""
    import pandas as pd

    from sparkdedup.config import DedupConfig

    h = hashlib.sha256(DedupConfig().config_hash().encode())
    h.update(pd.util.hash_pandas_object(files, index=False).to_numpy().tobytes())
    pkg = os.path.join(ROOT, "sparkdedup")
    for src in [os.path.join(pkg, "oracle.py"), os.path.join(pkg, "config.py"),
                *sorted(glob.glob(os.path.join(pkg, "functions", "*.py")))]:
        with open(src, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:24]


class Bench:
    def __init__(self, args, spec: dict):
        self.args = args
        self.spec = spec
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
        self.cache = os.path.join(ROOT, ".perfbench_work", "cache")
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.makedirs(self.cache, exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # no JVM writes outside the checkout: temp files go to TMPDIR, and
        # no /tmp/hsperfdata_* files
        self.jvm_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = self.jvm_opts
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["PYSPARK_PYTHON"] = sys.executable
        import tempfile
        tempfile.tempdir = None
        self.spark = None
        self._n = 0

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    # -- inputs and expected outputs (outside every timed window) ---------

    def expected(self, corpus) -> tuple[list[tuple[int, int]], dict | None]:
        """(pairs that must share a cluster, the oracle's clusters or None)."""
        from sparkdedup.fixtures import file_ids_batch

        f = corpus.files
        if self.args.workload == "skewed":
            fid = file_ids_batch(f["repo"], f["path"], f["commit"])
            return [(int(fid[a]), int(fid[b])) for a, b in corpus.planted], None
        key = os.path.join(self.cache, f"bulk-oracle-{_oracle_key(f)}.json")
        if not os.path.exists(key):
            from sparkdedup.config import DedupConfig
            from sparkdedup.oracle import run_oracle

            o = run_oracle(f, DedupConfig())
            pairs = sorted(o.sha_edges | o.lsh_edges | o.containment_edges)
            with open(key + ".part", "w") as fh:
                json.dump({"pairs": pairs, "clusters": sorted(o.clusters.items())}, fh)
            os.replace(key + ".part", key)
        with open(key) as fh:
            d = json.load(fh)
        return [tuple(p) for p in d["pairs"]], {int(a): int(b) for a, b in d["clusters"]}

    # -- set-up -------------------------------------------------------------

    def stage(self, files):
        from perfbench.inputs import write_files

        out = self.path("input")
        write_files(files, out, self.cores)
        df = self.spark.read.parquet(out).cache()
        df.count()
        return df

    def setup(self, corpus, warm_corpus) -> dict[str, float]:
        from sparkdedup.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={"spark.driver.extraJavaOptions": self.jvm_opts,
                        # keep every job and stage of the run in the status
                        # store; the traced spans read their counters there
                        "spark.ui.retainedJobs": "100000",
                        "spark.ui.retainedStages": "100000"})
        t1 = time.perf_counter()
        self.files = self.stage(corpus.files)
        t2 = time.perf_counter()
        # the first run() in a process is much slower (python workers,
        # codegen); warm up on an input of the same shape
        if warm_corpus is None:
            self.pipeline_run(self.files)
        else:
            warm = self.stage(warm_corpus.files)
            self.pipeline_run(warm)
            warm.unpersist()
        t3 = time.perf_counter()
        return {"session.start_s": t1 - t0, "input.stage_s": t2 - t1,
                "session.warmup_s": t3 - t2}

    # -- the measured operation ----------------------------------------------

    def pipeline_run(self, files):
        from sparkdedup.pipeline import DedupPipeline

        wd = self.path("workdir")
        t0 = time.perf_counter()
        res = DedupPipeline(self.spark, workload_config(self.args.workload), workdir=wd,
                            num_partitions=self.cores).run(files)
        return res, time.perf_counter() - t0

    def check(self, res, pairs, oracle_clusters) -> dict:
        from perfbench import checks

        edges = res.edges.select("src", "dst", "source").toPandas()
        clusters = res.clusters.toPandas()
        cluster_of = dict(zip(clusters["file_id"].astype(int),
                              clusters["cluster_id"].astype(int)))
        out = {"edges": edges, "clusters": clusters,
               "mislabeled_files": checks.mislabeled_files(edges, clusters),
               "recall": checks.pair_recall(pairs, cluster_of),
               "oracle_label_mismatches": (checks.label_mismatches(oracle_clusters, cluster_of)
                                           if oracle_clusters is not None else 0)}
        out["ok"] = (out["mislabeled_files"] == 0 and out["recall"] >= checks.MIN_RECALL
                     and out["oracle_label_mismatches"] == 0)
        if not out["ok"]:
            print(f"perfbench: check failed on {self.args.workload}: "
                  f"{ {k: v for k, v in out.items() if k not in ('edges', 'clusters')} }",
                  file=sys.stderr)
        return out

    # -- modes ----------------------------------------------------------------

    def end_to_end(self, corpus, pairs, oracle_clusters) -> tuple[dict, int, int]:
        walls, outcomes = [], []
        t_start = time.perf_counter()
        while True:
            res, wall = self.pipeline_run(self.files)
            walls.append(wall)
            outcomes.append(self.check(res, pairs, oracle_clusters))
            if time.perf_counter() - t_start >= self.args.seconds:
                break
        print(f"perfbench: run() walls {[round(w, 3) for w in walls]}", file=sys.stderr)
        metrics = {"files_per_s": len(corpus.files) / statistics.median(walls),
                   "dup_pair_recall": statistics.median(o["recall"] for o in outcomes)}
        return metrics, len(outcomes), sum(not o["ok"] for o in outcomes)

    def traced(self, corpus, pairs, oracle_clusters) -> tuple[dict, int, int]:
        from perfbench import checks, layers
        from perfbench.tracing import COUNTERS, Tracer
        from sparkdedup.config import DedupConfig

        cfg = workload_config(self.args.workload)
        res, run_wall = self.pipeline_run(self.files)
        outcome = self.check(res, pairs, oracle_clusters)
        staged = (sum(v.get("seconds", 0.0) for v in res.metrics["stages"].values())
                  + res.metrics.get("cc_seconds", 0.0))

        tracer = Tracer(self.spark, f"{self.args.workload}-{self.args.seed}-{os.getpid()}")
        with tracer.span("pipeline"):
            out = layers.traced_pipeline(self.spark, tracer, self.files, cfg,
                                         self.path("traced"), self.cores)
        # the spans measure the benchmark's own composition of the stages;
        # it must still produce what run() produced, or the layers no
        # longer explain the end-to-end figures
        drift = checks.pipeline_drift(
            outcome["edges"], outcome["clusters"], res.metrics.get("cc_iterations"),
            out["edges"].select("src", "dst", "source").toPandas(),
            out["clusters"].toPandas(), out["rounds"])
        if drift:
            print(f"perfbench: traced stages differ from run(): {drift}", file=sys.stderr)
        m: dict[str, float] = {}
        for name in layers.PIPELINE_SPANS:
            span = tracer.get(name)
            for c in COUNTERS:
                m[f"{name}.{c}"] = span[c]
        span_sum = sum(tracer.get(n)["wall_s"] for n in layers.PIPELINE_SPANS)

        with tracer.span("functions") as s:
            kern = layers.kernel_layers(corpus.files, cfg)
            s["rows_out"] = len(corpus.files)
        with tracer.span("operators.signatures.arrow_identity") as ident:
            layers.arrow_identity(self.files, self.cores)
            ident["rows_out"] = len(corpus.files)
        m["functions.signature_kernel_mb_per_s"] = kern["signature_kernel_mb_per_s"]
        for k in layers.KERNELS:
            m[f"functions.{k}"] = kern[k]
        sig_wall = tracer.get("operators.signatures")["wall_s"]
        m["operators.signatures.arrow_identity_s"] = ident["wall_s"]
        m["operators.signatures.overhead_share"] = (
            1.0 - kern["signature_kernel_s"] / self.cores / sig_wall)

        n_cand = len(out["candidates"])
        max_bucket, mega_rows = layers.bucket_stats(out["rep_sigs"]["bands"], cfg.bucket_cap)
        m["operators.lsh.candidates"] = n_cand
        m["operators.lsh.max_bucket"] = max_bucket
        m["operators.lsh.mega_bucket_rows"] = mega_rows
        m["operators.verify.kernel_s"] = layers.verify_kernel_s(
            out["rep_sigs"], out["candidates"], cfg)
        m["operators.verify.pass_ratio"] = out["n_near"] / n_cand if n_cand else 0.0
        m["operators.containment.pass_ratio"] = (
            out["n_cont"] / out["n_cont_cand"] if out["n_cont_cand"] else 0.0)
        rounds = out["rounds"]
        m["operators.components.rounds"] = rounds
        m["operators.components.s_per_round"] = (
            tracer.get("operators.components")["wall_s"] / rounds if rounds else 0.0)
        # whether the rounds fit under the default cap: above it, run()
        # with the default config returns unconverged labels
        m["operators.components.converged"] = float(rounds <= DedupConfig().max_cc_iters)
        m["pipeline.unattributed_share"] = 1.0 - staged / run_wall
        m["trace.run_wall_s"] = run_wall
        m["trace.span_sum_s"] = span_sum
        m["trace.overhead_share"] = span_sum / run_wall - 1.0
        m["mislabeled_files"] = outcome["mislabeled_files"]

        attempted, failed = 2, int(not outcome["ok"]) + int(bool(drift))
        tracer.dump(os.path.join(ROOT, ".perfbench_work",
                                 f"trace-{self.args.workload}-{self.args.seed}.json"))
        return m, attempted, failed

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                proc = gateway.proc
                gateway.shutdown()
                # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)

    def run(self) -> dict:
        from perfbench import inputs

        corpus = inputs.workload_corpus(self.args.workload, self.args.seed)
        warm = inputs.warmup_corpus(self.args.workload, self.args.seed)
        pairs, oracle_clusters = self.expected(corpus)
        _reset_hwm()
        setup = self.setup(corpus, warm)
        print(f"perfbench: set-up {setup}", file=sys.stderr)
        if self.args.trace:
            metrics, attempted, failed = self.traced(corpus, pairs, oracle_clusters)
            metrics.update(setup)
            jvm = self.spark.sparkContext._gateway.proc.pid
            metrics["peak_rss_mb"] = _vm_hwm_mb(jvm) + _vm_hwm_mb("self")
            names = self.spec["per_layer"]
        else:
            metrics, attempted, failed = self.end_to_end(corpus, pairs, oracle_clusters)
            metrics["setup_s"] = sum(setup.values())
            names = self.spec["end_to_end"]
        units = {d["name"]: d["unit"] for d in names}
        if set(metrics) != set(units):
            raise RuntimeError(f"metric names differ from BENCHMARK.json: "
                               f"{sorted(set(metrics) ^ set(units))}")
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": float(v), "unit": units[k]}
                            for k, v in metrics.items()}}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sparkdedup")):
        print(f"perfbench: no sparkdedup package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bench = Bench(args, spec)
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
