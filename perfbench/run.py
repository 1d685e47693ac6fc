"""dint_spark benchmark: build, bulk and interactive BM25 serving, DINT decode.

    python3 perfbench/run.py --workload flat_sf01 --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One process, Spark `local[2]`, a single
closed-loop client (the next batch starts when the previous one has been
collected). Inputs are generated from --seed before anything is timed.
Every served answer is checked against the pure-Python reference engine
after the timed loop. The last line of standard output is one JSON object
{correct, attempted, failed, metrics}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (a separate, traced run
whose spans are also written to perfbench/out/traces/). Lines before it
starting with '#' are annotations (host noise, settings, layer table).
See perfbench/NOTES.md for the workloads and the metric-to-layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

CPUS = 2  # local[2]: Python workers, driver and JVM threads share 4 vCPUs
DRIVER_MEMORY = "3g"
DECODE_MIN_REPS, DECODE_CPU_S = 6, 2.0
WARMUP_QUERIES = 64  # the operators' plan prefilter switches on at 64 queries
DECODE_CHUNK = 256  # blocks per batch-decode call
SCORE_TOL = 1e-9


# ---------------------------------------------------------------- host noise

def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop (best of three)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def host_snapshot() -> dict:
    return {"load_1m": os.getloadavg()[0], "steal_ticks": _steal_ticks(),
            "cpu_probe_s": _cpu_probe()}


# ---------------------------------------------------------------- Spark

class Bench:
    """Owns the Spark sessions, the run directory and the optional tracer."""

    def __init__(self, run_dir: str, tracer=None):
        self.root, self.out_dir, self.run_dir = ROOT, OUT, run_dir
        self.tracer = tracer
        self.spark = None

    def span(self, name: str, layer: str):
        if self.tracer is not None:
            return self.tracer.span(name, layer)
        return _no_span()

    def start_spark(self):
        from dint_spark import session

        if self.spark is None:
            tmp = os.path.join(self.run_dir, "tmp")
            self.spark = session.get_spark(
                "perfbench", cpus=CPUS, driver_memory=DRIVER_MEMORY,
                extra_conf={
                    "spark.local.dir": tmp,
                    "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                    # no hsperfdata file under /tmp: the run writes only in its
                    # checkout. C1 only: the JVM lives for one run, and C2 would
                    # still be compiling Spark's driver code while rounds are
                    # timed, at a pace set by the host's load (see NOTES.md)
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
                },
            )
        return self.spark

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            if self.tracer is not None:
                self.tracer.resolve()
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)


@contextmanager
def _no_span():
    yield {}


def storage_mb(spark) -> float:
    """Memory plus disk of every cached / checkpointed RDD, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# ---------------------------------------------------------------- serving

def serve_loop(bench, wl, spark, seconds: float, decoder) -> list[dict]:
    """One untimed warm-up round of every op (on at most WARMUP_QUERIES
    queries of the batch), then timed rounds until the timed batch walls
    add up to `seconds` (the decode slices between batches do not count);
    every timed round serves the workload's one batch in ROUND order (the
    op_perftest protocol bench.py follows)."""
    from workloads import FAMILY, ROUND

    recs = []
    # the warm-up round and at least one timed round
    slice_s = decoder.slice_s(len(FAMILY) + len(ROUND))

    def one(op, batch, timed):
        with bench.span(f"batch.{op}", f"batch.{FAMILY[op]}") as sp:
            t0 = time.perf_counter()
            try:
                rows, err = wl.serve(spark, op, batch), None
            except Exception:  # a failed operation is counted, not fatal
                rows, err = None, traceback.format_exc()
                print(err, file=sys.stderr)
            wall = time.perf_counter() - t0
        recs.append(dict(op=op, batch=batch, rows=rows, err=err, wall=wall,
                         timed=timed, span=sp))
        decoder.sample(slice_s)  # while the client waits, outside the walls

    for op in FAMILY:
        one(op, wl.batch[:WARMUP_QUERIES], False)
    # bench.py protocol: a forced JVM GC before timing, so the timed rounds
    # measure the queries, not the warm-up's garbage
    spark.sparkContext._jvm.System.gc()
    served = 0.0
    while served < seconds:
        for op in ROUND:
            one(op, wl.batch, True)
            served += recs[-1]["wall"]
    return recs


def check_batch(wl, rec) -> int:
    """Number of wrong answers in one served batch (all, if it raised)."""
    from workloads import expected_kind

    batch = rec["batch"]
    if rec["err"] is not None:
        return len(batch)
    kind = expected_kind(rec["op"])
    bad = 0
    if kind in ("and", "or"):
        got = {r["query_id"]: r["matches"] for r in rec["rows"]}
        for qid, terms in batch:
            bad += got.get(qid) != wl.expected.answer(kind, terms)
        return bad
    by_q: dict[int, list] = {}
    for r in rec["rows"]:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, terms in batch:
        rows = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        exp = wl.expected.answer(kind, terms)
        ok = [r["doc_id"] for r in rows] == [d for d, _ in exp] and all(
            abs(r["score"] - s) <= SCORE_TOL for r, (_, s) in zip(rows, exp)
        )
        bad += not ok
    return bad


def qps(recs, fams: set) -> float:
    """Queries per second of one batch of each of the families' ops, from
    each op's median timed batch wall: a batch slowed by a co-tenant of the
    host moves the median less than the sum."""
    from workloads import FAMILY

    walls: dict[str, list] = {}
    queries: dict[str, int] = {}
    for r in recs:
        if r["timed"] and FAMILY[r["op"]] in fams:
            walls.setdefault(r["op"], []).append(r["wall"])
            queries[r["op"]] = len(r["batch"])
    return sum(queries.values()) / sum(statistics.median(w) for w in walls.values())


# ---------------------------------------------------------------- decode

def fetch_blocks(wl, spark):
    """(block table, index postings, codec) of the serving index, on the driver."""
    idx, bidx, codec = wl.index(spark)
    blocks = (
        bidx.select("term_id", "block_id", "n", "block_base", "docs_bytes", "freqs_bytes")
        .toPandas()
        .sort_values(["term_id", "block_id"], kind="stable")
    )
    truth = (
        idx.postings.select("term_id", "doc_id", "tf").toPandas()
        .sort_values(["term_id", "doc_id"], kind="stable")
    )
    return blocks, truth, codec


class DecodeSampler:
    """Decode every docs and freqs block in this process with the codec's
    batch decode, single-threaded, timed on process CPU time.

    The blocks are decoded in index order, DECODE_CHUNK blocks per batch
    call, and each chunk is timed on its own. Chunks are decoded in
    rotation after every served batch (while the client waits), in slices
    sized so that the passes `finish` needs are taken while serving, and
    after the JVM has exited if any are still missing. Co-tenants of a
    shared host only slow a chunk down, so each chunk's fastest time is its
    decode cost; the reported rate is all ints over the sum of those.
    Samples spread over the serving phase see more of the host's fast
    moments than samples decoded back to back at the end of a run. The
    median rate of a pass (one sample of every chunk) is printed as an
    annotation. An untimed full decode is checked against the index's
    postings first."""

    def __init__(self, blocks, truth, codec, bench):
        import numpy as np

        self.bench, self.codec = bench, codec
        ns = blocks["n"].to_numpy(dtype=np.int64)
        dbufs, fbufs = list(blocks["docs_bytes"]), list(blocks["freqs_bytes"])
        self.n_ints = int(ns.sum())
        self.chunks = [
            (dbufs[i : i + DECODE_CHUNK], fbufs[i : i + DECODE_CHUNK], ns[i : i + DECODE_CHUNK])
            for i in range(0, len(ns), DECODE_CHUNK)
        ]
        self.t_docs = [[] for _ in self.chunks]
        self.t_freqs = [[] for _ in self.chunks]
        self._next = 0
        t0 = time.process_time()
        gaps, offs = codec.decode_docs_batch(dbufs, ns)
        tfs, _ = codec.decode_freqs_batch(fbufs, ns)
        self.pass_cpu = time.process_time() - t0
        cs = np.cumsum(gaps.astype(np.int64) + 1)
        excl = np.where(offs > 0, cs[offs - 1], 0)
        docs = cs + np.repeat(blocks["block_base"].to_numpy(dtype=np.int64) - excl, ns)
        self.ok = bool(
            len(truth) == self.n_ints
            and np.array_equal(np.repeat(blocks["term_id"].to_numpy(np.int64), ns),
                               truth["term_id"].to_numpy(np.int64))
            and np.array_equal(docs, truth["doc_id"].to_numpy(np.int64))
            and np.array_equal(tfs.astype(np.int64) + 1, truth["tf"].to_numpy(np.int64))
        )

    def _chunk(self) -> float:
        """Decode the next chunk in rotation; returns its CPU seconds."""
        k = self._next
        self._next = (k + 1) % len(self.chunks)
        dbufs, fbufs, ns = self.chunks[k]
        with self.bench.span("codecs.decode_docs_batch", "codecs"):
            a = time.process_time()
            self.codec.decode_docs_batch(dbufs, ns)
            b = time.process_time()
        with self.bench.span("codecs.decode_freqs_batch", "codecs"):
            c = time.process_time()
            self.codec.decode_freqs_batch(fbufs, ns)
            d = time.process_time()
        self.t_docs[k].append(b - a)
        self.t_freqs[k].append(d - c)
        return (b - a) + (d - c)

    def slice_s(self, batches: int) -> float:
        """CPU seconds to decode after each of `batches` served batches so
        that `finish` has its samples when they are done."""
        return max(DECODE_CPU_S, DECODE_MIN_REPS * self.pass_cpu) / batches

    def sample(self, cpu_s: float) -> None:
        """Decode chunks in rotation for about `cpu_s` CPU seconds."""
        spent = 0.0
        while spent < cpu_s:
            spent += self._chunk()

    def finish(self) -> dict:
        while (min(map(len, self.t_docs)) < DECODE_MIN_REPS
               or sum(map(sum, self.t_docs + self.t_freqs)) < DECODE_CPU_S):
            self._chunk()
        docs = sum(map(min, self.t_docs))
        freqs = sum(map(min, self.t_freqs))
        # pass i: the i-th sample of every chunk
        passes = [sum(ts) for ts in zip(*self.t_docs, *self.t_freqs)]
        return dict(ok=self.ok, n_postings=self.n_ints,
                    ints_per_s=2 * self.n_ints / (docs + freqs),
                    median_pass_ints_per_s=2 * self.n_ints / statistics.median(passes),
                    docs_ns_per_int=docs / self.n_ints * 1e9,
                    freqs_ns_per_int=freqs / self.n_ints * 1e9,
                    passes=len(passes))


# ---------------------------------------------------------------- main

def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "dint_spark", "__init__.py")):
        print("perfbench: dint_spark/ not found next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    from workloads import WORKLOADS

    run_dir = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import dint_spark from the checkout; all scratch
    # (Spark local dirs, JVM and Python temp files) stays in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp

    host0 = host_snapshot()
    tracer = None
    if args.trace:
        import __spark_entry__  # noqa: F401  (aliases must exist before patching)
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    bench = Bench(run_dir, tracer)
    wl = WORKLOADS[args.workload](args.seed, run_dir, bool(args.trace))
    phases = {}
    t_phase = time.perf_counter()
    try:
        wl.prepare(bench)
        phases["prepare_s"] = time.perf_counter() - t_phase
        with bench.span("setup", "setup"):
            t0 = time.perf_counter()
            spark = bench.start_spark()
            wl.setup(bench, spark)
            setup_s = time.perf_counter() - t0
        if tracer:
            tracer.resolve()  # the status store keeps only the latest jobs
        cached = storage_mb(spark)
        from dint_spark.build import blocks

        st = blocks.index_stats(wl.index(spark)[1]).first()
        decoder = DecodeSampler(*fetch_blocks(wl, spark), bench)
        t_phase = time.perf_counter()
        recs = serve_loop(bench, wl, spark, args.seconds, decoder)
        phases["serve_s"] = time.perf_counter() - t_phase
        probes = trace_probes(bench, wl, spark) if tracer else {}
    finally:
        bench.shutdown()
    t_phase = time.perf_counter()
    dec = decoder.finish()
    phases["decode_finish_s"] = time.perf_counter() - t_phase

    t_phase = time.perf_counter()
    attempted = sum(len(r["batch"]) for r in recs) + 1
    failed = sum(check_batch(wl, r) for r in recs) + (not dec["ok"])
    phases["check_s"] = time.perf_counter() - t_phase
    e2e = {
        "setup_s": (setup_s, "s"),
        "topk_qps": (qps(recs, {"wand", "ranked"}), "queries/s"),
        "bool_qps": (qps(recs, {"bool"}), "queries/s"),
        "decode_ints_per_s": (dec["ints_per_s"], "ints/s"),
        "docs_bpi": (float(st["docs_bpi"]), "bits/int"),
        "freqs_bpi": (float(st["freqs_bpi"]), "bits/int"),
        "cached_mb": (cached, "MB"),
    }
    host1 = host_snapshot()
    note = {
        "workload": args.workload, "seed": args.seed, "cpus": CPUS,
        "driver_memory": DRIVER_MEMORY,
        "timed_batches": sum(r["timed"] for r in recs),
        "decode_passes": dec["passes"],
        "decode_median_pass_ints_per_s": dec["median_pass_ints_per_s"],
        "n_postings": dec["n_postings"],
        "batch_walls_s": {op: [r["wall"] for r in recs if r["op"] == op and r["timed"]]
                          for op in dict.fromkeys(r["op"] for r in recs)},
        "phases_s": phases,
        "load_1m_start": host0["load_1m"], "load_1m_end": host1["load_1m"],
        "steal_ticks": host1["steal_ticks"] - host0["steal_ticks"],
        "cpu_probe_s_start": host0["cpu_probe_s"], "cpu_probe_s_end": host1["cpu_probe_s"],
    }
    print("# " + json.dumps(note))
    if tracer:
        from layers import report

        metrics = report(tracer, wl, recs, dec, probes, e2e, note, OUT, CPUS)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        with open(os.path.join(OUT, "results", f"{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps({"note": note, "metrics": metrics}) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def trace_probes(bench, wl, spark) -> dict:
    """Traced run only: the pruning counters (an extra Spark execution)
    and a Spark-side full decode of the block index."""
    from pyspark.sql import functions as F

    from dint_spark.build import blocks

    with bench.span("probe.decode_stats", "probe"):
        st = wl.decode_stats(spark).agg(
            F.sum("blocks_total").alias("t"),
            F.sum("blocks_docs_decoded").alias("d"),
            F.sum("blocks_freqs_decoded").alias("f"),
        ).first()
    _idx, bidx, codec = wl.index(spark)
    with bench.span("probe.spark_decode", "probe") as sp:
        t0 = time.perf_counter()
        n = blocks.decode_block_index(bidx, codec).agg(F.count("*")).first()[0]
        wall = time.perf_counter() - t0
    return {"blocks_handed": int(st["t"] or 0), "docs_decoded": int(st["d"] or 0),
            "freqs_decoded": int(st["f"] or 0), "spark_decode_ints_per_s": 2 * n / wall,
            "spark_decode_span": sp["id"]}


if __name__ == "__main__":
    sys.exit(main())
