#!/usr/bin/env python3
"""The repository benchmark: graphulo_spark measured from outside.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process is one closed-loop client: it
starts a local[nproc] session, writes the workload's inputs from the seed,
then sends the workload's engine calls back to back (each waits for the
previous one) until ``--seconds`` have passed, always finishing at least one
full pass. Every result is checked against the engine-independent oracles in
``oracles.py``. The last stdout line is the result object; the line before it
is the run record (input shape, host probe, per-pass phase times).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
passes with a span recorder passed through ``watch=`` and job-group counters
read from the Spark status store, plus isolated layer calls, and reports the
per-layer metrics. See README.md for the workloads and the metric map.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(HERE))

from inputs import write_documents, write_lineitem, write_transcripts  # noqa: E402
from oracles import LP_ITERS, PAGERANK_FIXED_ITERS, PAGERANK_TOL  # noqa: E402
from tracer import SpanRecorder, group_counters, job_group, span_layers  # noqa: E402

# The session default (16g) does not fit a 15 GB box shared with other
# processes. These inputs need far less; a heap the passes fill keeps the
# JVM's peak RSS a steady figure instead of a GC-timing accident.
JVM_HEAP = "1g"
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
SETUP_REPS = 3
OVERHEAD_ITERS = 3  # supersteps of the bare/traced/Watch PageRank triple


class CallFailed(Exception):
    """An engine call raised; the rest of the pass depends on it."""


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOAD_CLASSES))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def _isolate(run_dir: Path, cores: int) -> None:
    """Point every scratch location of Python, Spark and the engine inside
    the checkout (must run before pyspark starts the JVM)."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    # every JVM spark-submit starts, the launcher too: no hsperfdata
    # files under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)


def _median(values):
    return statistics.median(values) if values else 0.0


def _peak_rss_mb(spark) -> float:
    """Spark JVM high-water RSS plus this Python process's."""
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _edge_fp(pdf) -> str:
    import hashlib

    import numpy as np

    pdf = pdf.sort_values(["src", "dst"])
    h = hashlib.sha256()
    for c, dt in (("src", np.int64), ("dst", np.int64), ("w", np.float64)):
        h.update(pdf[c].to_numpy(dt).tobytes())
    return h.hexdigest()[:16]


class Client:
    """One closed-loop client: times calls, checks them, counts failures and,
    when traced, collects spans and job-group counters per call.

    Every call is timed twice: wall seconds and CPU seconds. CPU seconds are
    user + system time of the Spark JVM (all its threads: tasks, planning,
    JIT, GC) and of this Python process. They exclude time the host steals
    from this VM's CPUs, which on a shared box swings wall time by up to 2x
    between minutes."""

    def __init__(self, spark, cores: int, traced: bool):
        self._jvm_stat = f"/proc/{spark._jvm.ProcessHandle.current().pid()}/stat"
        self.spark = spark
        self.cores = cores
        self.traced = traced
        self.watch = SpanRecorder() if traced else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.calls: dict[str, list[dict]] = {}  # label -> per-call layer data
        self.pass_wall: dict[str, float] = {}  # label -> wall seconds, this pass
        self.pass_cpu: dict[str, float] = {}  # label -> CPU seconds, this pass
        self._pass_no = 0
        self._wrong: set[tuple[int, str]] = set()

    def start_pass(self) -> None:
        self.pass_wall, self.pass_cpu = {}, {}
        self._pass_no += 1

    def cpu_s(self) -> float:
        with open(self._jvm_stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()  # fields[0] is stat field 3
        t = os.times()
        return (int(fields[11]) + int(fields[12])) / CLOCK_TICKS + t.user + t.system

    def call(self, label: str, fn, convergence: str | None = None):
        """Time ``fn(watch)`` — which must consume its result — and return
        (result, seconds). Traced: also record its spans and counters."""
        self.attempted += 1
        group = job_group(self.spark, label) if self.traced else nullcontext()
        c0 = self.cpu_s()
        t0 = time.perf_counter()
        try:
            with group as gid:
                result = fn(self.watch)
        except Exception as exc:
            self.failed += 1
            self.errors.append(f"{label}: {exc!r}")
            traceback.print_exc(file=sys.stderr)
            raise CallFailed(label) from exc
        t1 = time.perf_counter()
        self.pass_cpu[label] = self.cpu_s() - c0
        self.pass_wall[label] = t1 - t0
        if self.traced:
            t_read = time.perf_counter()
            data = group_counters(self.spark, gid, t1 - t0, self.cores)
            data.update(span_layers(self.watch.events, t0, t1, convergence))
            data["wall_s"] = t1 - t0
            data["cpu_s"] = self.pass_cpu[label]
            data["read_s"] = time.perf_counter() - t_read
            self.calls.setdefault(label, []).append(data)
        return result, t1 - t0

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        """A wrong result counts as a failed call, once per call."""
        if not ok:
            self.errors.append(f"{label}: wrong result {detail}".strip())
            if (self._pass_no, label) not in self._wrong:
                self._wrong.add((self._pass_no, label))
                self.failed += 1


# ------------------------------------------------------------------ workloads


class Workload:
    """Inputs, one timed pass, and the checks of one workload."""

    name = ""

    def __init__(self, spark, run_dir: Path, seed: int):
        self.spark = spark
        self.seed = seed
        self.inputs = run_dir / "inputs"
        self.inputs.mkdir(parents=True, exist_ok=True)
        self.ref: dict = {}

    def prepare_inputs(self) -> None:
        raise NotImplementedError

    def edges(self):
        raise NotImplementedError

    def derive_edges(self, client: Client):
        def go(_watch):
            e = self.edges().cache()
            e.count()
            return e

        e, secs = client.call("edges", go)
        pdf = e.toPandas()
        client.check("edges", len(pdf) == self.ref["edges"] and _edge_fp(pdf) == self.ref["edge_fp"])
        return e, secs

    def check_ranks(self, client: Client, label: str, pdf, ref_key: str, rtol: float) -> None:
        import numpy as np

        ref = dict(self.ref[ref_key])
        ok = len(pdf) == len(ref) and all(v in ref for v in pdf["v"])
        if ok:
            want = np.array([ref[v] for v in pdf["v"]])
            ok = bool(np.allclose(pdf["rank"].to_numpy(), want, rtol=rtol, atol=0.0))
        client.check(label, ok)


class TranscriptGraph(Workload):
    """The paper's pipeline on a hub-skewed graph: transcript table -> edges
    -> PageRank to convergence, CC, 5 LP supersteps, triangle count."""

    name = "transcript_graph"

    def prepare_inputs(self) -> None:
        write_transcripts(self.spark, str(self.inputs / "transcripts.parquet"), self.seed)

    def edges(self):
        from graphulo_spark.linalg import symmetrize
        from graphulo_spark.sources import load_transcripts
        from graphulo_spark.transcripts import induce_edges

        t = load_transcripts(self.spark, str(self.inputs / "transcripts.parquet"))
        return symmetrize(induce_edges(t))

    def one_pass(self, client: Client) -> dict:
        from graphulo_spark.algorithms import connected_components, label_propagation, pagerank
        from graphulo_spark.algorithms.triangles import triangle_count

        spark = self.spark
        phase: dict = {}
        e, phase["edges_s"] = self.derive_edges(client)

        def pr(watch):
            hist: list = []
            return pagerank(spark, e, tol=PAGERANK_TOL, history=hist, watch=watch).toPandas(), len(hist)

        (ranks, steps), phase["pagerank_s"] = client.call("pagerank", pr, convergence="delta")
        phase["supersteps"] = steps
        client.check("pagerank", steps == self.ref["supersteps_converged"], f"supersteps {steps}")
        self.check_ranks(client, "pagerank", ranks, "pagerank_converged", rtol=1e-6)

        cc, phase["cc_s"] = client.call(
            "cc",
            lambda w: connected_components(spark, e, watch=w).toPandas(),
            convergence="convergence_test",
        )
        client.check("cc", dict(zip(cc["v"], cc["component"])) == dict(self.ref["cc"]))
        labels, phase["lp_s"] = client.call(
            "lp", lambda w: label_propagation(spark, e, iters=LP_ITERS, watch=w).toPandas()
        )
        client.check("lp", dict(zip(labels["v"], labels["label"])) == dict(self.ref["lp"]))
        tri, phase["triangles_s"] = client.call("triangles", lambda _w: triangle_count(e))
        client.check("triangles", tri == self.ref["triangles"], f"{tri}")
        phase["graph"] = e
        return phase


class Copurchase(Workload):
    """Hub-free copurchase graph: fixed in-memory PageRank supersteps (no
    convergence job), MinHash dedup clusters, then PageRank
    with ``checkpoint_dir`` stopped at half its converged superstep count,
    as if killed, and resumed to convergence."""

    name = "copurchase"

    def __init__(self, spark, run_dir: Path, seed: int):
        super().__init__(spark, run_dir, seed)
        self.ckpt = run_dir / "checkpoint"

    def prepare_inputs(self) -> None:
        write_lineitem(self.spark, str(self.inputs / "sf"), self.seed)
        write_documents(self.spark, str(self.inputs / "documents.parquet"), self.seed)

    def edges(self):
        from graphulo_spark.entry import copurchase_edges
        from graphulo_spark.linalg import symmetrize

        return symmetrize(copurchase_edges(self.spark, str(self.inputs / "sf")))

    def one_pass(self, client: Client) -> dict:
        from graphulo_spark.algorithms import pagerank
        from graphulo_spark.pipeline.dedup import dedup_clusters

        spark = self.spark
        phase: dict = {}
        e, phase["edges_s"] = self.derive_edges(client)
        # no history=: that would switch off the fixed-iteration fusion gate
        ranks, phase["pagerank_s"] = client.call(
            "pagerank",
            lambda w: pagerank(spark, e, tol=0.0, max_iter=PAGERANK_FIXED_ITERS, watch=w).toPandas(),
        )
        phase["supersteps"] = PAGERANK_FIXED_ITERS
        self.check_ranks(client, "pagerank", ranks, "pagerank_fixed", rtol=1e-6)

        docs_path = str(self.inputs / "documents.parquet")
        dd, phase["dedup_s"] = client.call(
            "dedup",
            lambda _w: dedup_clusters(
                spark, spark.read.parquet(docs_path), hash_family="xxhash64"
            ).toPandas(),
        )
        client.check("dedup", dict(zip(dd["doc_id"], dd["cluster_id"])) == dict(self.ref["dedup"]))

        shutil.rmtree(self.ckpt, ignore_errors=True)
        total = self.ref["supersteps_converged"]
        first = total // 2

        def leg(resume: bool, max_iter: int):
            def go(watch):
                hist: list = []
                r = pagerank(
                    spark, e, tol=PAGERANK_TOL, max_iter=max_iter, checkpoint_dir=str(self.ckpt),
                    resume=resume, history=hist, watch=watch,
                ).toPandas()
                return r, len(hist)

            return go

        (_, n1), phase["checkpoint_s"] = client.call("checkpoint", leg(False, first), convergence="delta")
        client.check("checkpoint", n1 == first, f"first leg ran {n1} of {first}")
        (ranks, n2), phase["resume_s"] = client.call("resume", leg(True, 100), convergence="delta")
        steps = sorted(int(d.name.split("=", 1)[1]) for d in self.ckpt.glob("step=*"))
        client.check(
            "resume", n1 + n2 == total and bool(steps) and steps[-1] == total,
            f"supersteps {n1}+{n2}, latest step dir {steps[-1:]} vs {total}",
        )
        # the uninterrupted run is the oracle's single power iteration
        self.check_ranks(client, "resume", ranks, "pagerank_converged", rtol=1e-9)
        files = [p for p in self.ckpt.rglob("*") if p.is_file()]
        phase["ckpt_files"] = len(files)
        phase["ckpt_bytes"] = sum(p.stat().st_size for p in files)
        phase["ckpt_supersteps"] = n1 + n2
        phase["graph"] = e
        return phase


WORKLOAD_CLASSES = {c.name: c for c in (TranscriptGraph, Copurchase)}


# ------------------------------------------------------------------ probes


def host_probe(spark, cores: int) -> dict:
    """Engine-free Spark probes of this host's current speed (the codegen
    and cached-scan kinds of ``bench.py``'s ceiling probes, scaled to about
    half a second each), recorded beside every run so window swings show."""
    from pyspark.sql import functions as F

    def codegen(n, salt):
        return (
            spark.range(0, n, 1, cores * 4)
            .select(F.xxhash64(F.col("id") * 31 + salt).alias("h"))
            .agg(F.sum(F.pmod("h", F.lit(1000))))
            .collect()
        )

    n = 20_000_000
    codegen(n // 10, 7)
    t0 = time.perf_counter()
    codegen(n, 13)
    codegen_rps = n / (time.perf_counter() - t0)

    m = 500_000
    cached = spark.range(0, m, 1, cores * 4).select(
        (F.col("id") % 997).alias("src"), (F.col("id") % 97).cast("double").alias("w")
    ).cache()
    cached.count()
    cached.agg(F.sum(F.col("w") * ((F.col("src") + 5) % 13))).collect()
    t0 = time.perf_counter()
    for salt in (7, 11):
        cached.agg(F.sum(F.col("w") * ((F.col("src") + salt) % 13))).collect()
    scan_rps = 2 * m / (time.perf_counter() - t0)
    cached.unpersist()
    return {"host.codegen_rows_per_s": codegen_rps, "host.cachedscan_rows_per_s": scan_rps}


# ------------------------------------------------------------------ traced layers


def _agg_calls(client: Client, label: str, prefix: str, keys) -> dict:
    """Median over passes of one call's layer data, as ``prefix.key``."""
    rows = client.calls.get(label, [])
    return {f"{prefix}.{k}": _median([r.get(k, 0.0) for r in rows]) for k in keys}


ALG_KEYS = (
    "setup_s", "superstep_s", "supersteps", "plan_s", "final_s", "jobs", "stages", "tasks",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew", "core_util", "wall_s",
    "cpu_s",
)
TRI_KEYS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "task_skew", "core_util", "wall_s", "cpu_s",
)


def isolated_layers(wl: Workload, client: Client, e, cores: int) -> dict:
    """Layer calls timed on their own, after the passes (traced run only)."""
    from pyspark.sql import functions as F

    from graphulo_spark.algorithms import pagerank
    from graphulo_spark.checkpoint import input_fingerprint
    from graphulo_spark.linalg import symmetrize
    from graphulo_spark.linalg.spmv import hub_keys, spmv
    from graphulo_spark.materialize import materialize
    from graphulo_spark.watch import Watch

    spark = wl.spark
    out: dict = {}

    def timed(label, fn):
        with job_group(spark, label) as gid:
            t0 = time.perf_counter()
            r = fn()
            secs = time.perf_counter() - t0
        return r, secs, group_counters(spark, gid, secs, cores)

    caches = []
    if isinstance(wl, TranscriptGraph):
        from graphulo_spark.sources import load_transcripts
        from graphulo_spark.transcripts import induce_edges

        t = load_transcripts(spark, str(wl.inputs / "transcripts.parquet")).cache()
        caches.append(t)
        _, out["sources.load_s"], _ = timed("load", t.count)
        ind = induce_edges(t).cache()
        caches.append(ind)
        _, out["transcripts.induce_s"], c = timed("induce", ind.count)
        out["transcripts.induce_shuffle_bytes"] = c["shuffle_write_bytes"]
    else:
        from graphulo_spark.entry import copurchase_edges

        ind = copurchase_edges(spark, str(wl.inputs / "sf")).cache()
        caches.append(ind)
        _, out["entry.copurchase_s"], c = timed("copurchase", ind.count)
        out["entry.copurchase_shuffle_bytes"] = c["shuffle_write_bytes"]
    sym = symmetrize(ind).cache()
    caches.append(sym)
    _, out["linalg.symmetrize_s"], _ = timed("symmetrize", sym.count)

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    hubs, out["linalg.hub_keys_s"], _ = timed("hub_keys", lambda: hub_keys(e, n_parts))
    out["linalg.hubs"] = len(hubs)
    n = wl.ref["vertices"]
    vec = e.select(F.col("src").alias("v")).distinct().select("v", F.lit(1.0 / n).alias("x"))
    vec_m, out["materialize.s"], _ = timed("materialize", lambda: materialize(vec))
    _, out["linalg.spmv_s"], c = timed(
        "spmv",
        lambda: spmv(e, vec_m, strategy="plain", vec_count=n, drop_zeros=False)
        .agg(F.sum("x"))
        .collect(),
    )
    out["linalg.spmv_shuffle_bytes"] = c["shuffle_read_bytes"]
    if isinstance(wl, Copurchase):
        _, out["checkpoint.fingerprint_s"], _ = timed(
            "fingerprint", lambda: input_fingerprint(e, "src", "dst", "w")
        )
        from graphulo_spark.pipeline.dedup import exact_dedup, minhash_lsh_pairs, verified_near_pairs

        docs = spark.read.parquet(str(wl.inputs / "documents.parquet"))
        keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
        survivors = docs.join(keep, "doc_id", "semi")
        cand = minhash_lsh_pairs(survivors, hash_family="xxhash64").count()
        verified = verified_near_pairs(survivors, hash_family="xxhash64").count()
        out["pipeline.lsh_candidates"] = cand
        out["pipeline.verified_pairs"] = verified
        out["pipeline.verify_ratio"] = verified / cand if cand else 0.0
    for c_df in caches:
        c_df.unpersist()

    # Instrument cost: one fixed-length PageRank, interleaved bare / with this
    # tracer (spans + job-group read) / bare / with engine Watch, on the same
    # warm session; each instrumented time is over the mean of the bare ones.
    def pr(watch):
        t0 = time.perf_counter()
        pagerank(spark, e, tol=0.0, max_iter=OVERHEAD_ITERS, watch=watch).toPandas()
        return time.perf_counter() - t0

    def traced_pr():
        t0 = time.perf_counter()
        with job_group(spark, "overhead") as gid:
            pr(SpanRecorder())
        group_counters(spark, gid, 1.0, cores)
        return time.perf_counter() - t0

    bare = pr(None)
    traced = traced_pr()
    bare = (bare + pr(None)) / 2
    out["trace.overhead_ratio"] = traced / bare
    out["watch.overhead_ratio"] = pr(Watch(spark)) / bare
    return out


def per_layer_metrics(wl: Workload, client: Client, passes: list[dict], extra: dict) -> dict:
    m: dict = {}
    for label in ("pagerank", "cc", "lp"):
        keys = ALG_KEYS + (("convergence_s",) if label != "lp" else ())
        m.update(_agg_calls(client, label, label, keys))
    if isinstance(wl, Copurchase):
        leg1 = _agg_calls(client, "checkpoint", "ck", ("superstep_s", "supersteps", "wall_s"))
        leg2 = _agg_calls(client, "resume", "ck", ("superstep_s", "supersteps", "setup_s", "wall_s"))
        steps = leg1["ck.supersteps"] + leg2["ck.supersteps"]
        written = _median([p["ckpt_bytes"] for p in passes])
        m["checkpoint.save_s"] = leg1["ck.superstep_s"] + leg2["ck.superstep_s"]
        m["checkpoint.bytes_written"] = written
        m["checkpoint.files"] = _median([p["ckpt_files"] for p in passes])
        m["checkpoint.bytes_per_step"] = written / steps if steps else 0.0
        m["checkpoint.resume_setup_s"] = leg2["ck.setup_s"]
        m["checkpoint.first_leg_s"] = leg1["ck.wall_s"]
        m["checkpoint.resume_s"] = leg2["ck.wall_s"]
    m.update(_agg_calls(client, "triangles", "triangles", TRI_KEYS))
    m["triangles.count"] = wl.ref["triangles"] if client.calls.get("triangles") else 0
    dedup = _agg_calls(client, "dedup", "d", ("jobs", "shuffle_write_bytes", "core_util", "wall_s"))
    m["pipeline.dedup_jobs"] = dedup["d.jobs"]
    m["pipeline.dedup_shuffle_bytes"] = dedup["d.shuffle_write_bytes"]
    m["pipeline.core_util"] = dedup["d.core_util"]
    m["pipeline.dedup_s"] = dedup["d.wall_s"]
    # one state materialization per in-memory superstep plus the initial state
    m["materialize.calls"] = sum(
        _median([r["supersteps"] + 1 for r in client.calls.get(label, [])])
        for label in ("pagerank", "cc", "lp")
        if client.calls.get(label)
    )
    m["linalg.edges"] = wl.ref["edges"]
    m["linalg.vertices"] = wl.ref["vertices"]
    m["linalg.max_degree"] = wl.ref["max_degree"]
    m["transcripts.turns"] = wl.ref["rows"] if not isinstance(wl, Copurchase) else 0
    m["trace.counter_read_s"] = sum(r["read_s"] for rows in client.calls.values() for r in rows)
    m.update(extra)
    return m


# ------------------------------------------------------------------ main


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    cores = len(os.sched_getaffinity(0))
    sys.path.insert(0, str(ROOT))
    try:
        from graphulo_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    run_dir = WORK / "runs" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    _isolate(run_dir, cores)

    t0 = time.perf_counter()
    spark = get_spark(
        app=f"perfbench-{args.workload}",
        cores=cores,
        driver_memory=JVM_HEAP,
        extra={
            "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -Djava.io.tmpdir={run_dir / 'tmp'}",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t0
    try:
        return _run(args, spark, run_dir, cores, session_s)
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, spark, run_dir: Path, cores: int, session_s: float) -> int:
    units_e2e, units_per_layer = _units()
    wl = WORKLOAD_CLASSES[args.workload](spark, run_dir, args.seed)
    prep = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.prepare_inputs()
        prep.append(time.perf_counter() - t0)

    n_parts = spark.conf.get("spark.sql.shuffle.partitions")
    ref_path = subprocess.run(
        [sys.executable, str(HERE / "oracles.py"), wl.name, str(args.seed), str(wl.inputs),
         str(WORK / "oracle"), n_parts],
        check=True, capture_output=True, text=True, timeout=170,
    ).stdout.strip().splitlines()[-1]
    with open(ref_path) as f:
        wl.ref = json.load(f)

    client = Client(spark, cores, traced=bool(args.trace))
    passes: list[dict] = []
    start = time.perf_counter()
    graph = None
    while True:
        spark.catalog.clearCache()
        client.start_pass()
        try:
            phase = wl.one_pass(client)
        except CallFailed:
            break
        graph = phase.pop("graph")
        phase["analytics_s"] = sum(client.pass_wall.values())
        phase.update({f"{label}_cpu_s": v for label, v in client.pass_cpu.items()})
        phase["analytics_cpu_s"] = sum(client.pass_cpu.values())
        passes.append(phase)
        if time.perf_counter() - start >= args.seconds:
            break
    peak_rss = _peak_rss_mb(spark)

    extra: dict = {}
    if args.trace and passes and client.failed == 0:
        try:
            extra.update(isolated_layers(wl, client, graph, cores))
        except Exception as exc:  # a layer call is an engine call too
            client.attempted += 1
            client.failed += 1
            client.errors.append(f"isolated layers: {exc!r}")
            traceback.print_exc(file=sys.stderr)
    host = host_probe(spark, cores)

    def med(key):
        return _median([p[key] for p in passes])

    e2e = {
        "setup_s": session_s + _median(prep),
        "edges_cpu_s": med("edges_cpu_s"),
        "pagerank_cpu_s": med("pagerank_cpu_s"),
        "pagerank_edges_per_cpu_s": _median(
            [p["supersteps"] * wl.ref["edges"] / p["pagerank_cpu_s"] for p in passes]
        ),
        "analytics_cpu_s": med("analytics_cpu_s"),
        "peak_rss_mb": peak_rss,
    }
    shape = {k: wl.ref[k] for k in ("rows", "vertices", "edges", "max_degree", "hubs", "supersteps_converged", "input_fp", "edge_fp")}
    shape["triangles"] = wl.ref["triangles"]
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "passes": len(passes),
        "input": shape,
        "host": host,
        "setup": {"session_start_s": session_s, "input_prep_s": prep},
        "phases": passes,
        "end_to_end": e2e,
        "failed_frac": client.failed / max(client.attempted, 1),
        "errors": client.errors,
    }
    correct = client.failed == 0 and bool(passes)
    if args.trace:
        layers = per_layer_metrics(wl, client, passes, extra) if correct else {}
        layers["session.start_s"] = session_s
        layers["transcripts.generate_s"] = _median(prep) if not isinstance(wl, Copurchase) else 0.0
        layers.update(host)
        units = units_per_layer
        metrics = {k: layers.get(k, 0.0) for k in units}
        record["spans"] = client.watch.events
        record["calls"] = client.calls
    else:
        metrics, units = e2e, units_e2e
    record["metrics"] = metrics
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    with open(WORK / "results" / "runs.jsonl", "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    print(json.dumps({"record": {k: v for k, v in record.items() if k not in ("spans", "calls")}}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": client.attempted,
                "failed": client.failed,
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


def _units() -> tuple[dict, dict]:
    with open(HERE.parent / "BENCHMARK.json") as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


if __name__ == "__main__":
    sys.exit(main())
