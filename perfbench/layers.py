"""Per-layer metrics of a traced run, the trace file and the tracing overhead."""

from __future__ import annotations

import json
import os
import statistics
import time


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _dur(s) -> float:
    return s["end"] - s["start"]


def _sum(tracer, rec, key) -> float:
    return sum(s.get(key, 0) for s in tracer.subtree(rec))


def _pctl_with_tail(walls: list[float]) -> dict:
    """The highest of p50/p75/p90/p95/p99 with >= 10 samples beyond it."""
    n = len(walls)
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is None:
        return {"percentile": None, "samples": n}
    xs = sorted(walls)
    return {"percentile": best, "value_ms": xs[min(n - 1, int(n * best / 100))] * 1e3,
            "samples": n}


def report(tracer, wl, recs, dec, probes, e2e, note, out_dir, cpus) -> dict:
    named = tracer.named
    n_post = dec["n_postings"]
    m: dict[str, tuple[float, str]] = {}

    # ---- set-up layers
    m["get_spark_s"] = (_med(_dur(s) for s in named("dint_spark.session.get_spark")), "s")
    builds = named("dint_spark.build.postings.build_fulltext_index")
    pb = _med(_dur(s) for s in builds)
    m["postings_build_s"] = (pb, "s")
    m["postings_build_jobs"] = (_med(_sum(tracer, s, "jobs") for s in builds), "count")
    m["postings_shuffle_write_mb"] = (
        _med(_sum(tracer, s, "shuffle_write") for s in builds) / 1e6, "MB")
    m["postings_per_s"] = (n_post / pb if pb else 0.0, "postings/s")
    learns = named("dint_spark.build.dint_build.learn_dint_model")
    m["dint_learn_s"] = (_med(_dur(s) for s in learns), "s")
    m["dint_dict_entries"] = (_med(s.get("dict_entries", 0) for s in learns), "count")
    # block encode: the materialization under engine.get_block_index, or
    # the builder's own `index` stage wall when the builder encoded
    by_id = {s["id"]: s for s in tracer.spans}
    enc = [_dur(s) for s in named("dint_spark.util.materialize")
           if s["parent"] is not None
           and by_id[s["parent"]]["name"] == "dint_spark.engine.get_block_index"]
    builder = builder_breakdown(tracer, wl)
    if not enc and builder:
        enc = [builder["stages_s"]["index"]]
    m["block_encode_s"] = (_med(enc), "s")
    m["encode_postings_per_s"] = (n_post / _med(enc) if enc else 0.0, "postings/s")
    m["spark_decode_ints_per_s"] = (probes["spark_decode_ints_per_s"], "ints/s")
    m["codec_docs_ns_per_int"] = (dec["docs_ns_per_int"], "ns/int")
    m["codec_freqs_ns_per_int"] = (dec["freqs_ns_per_int"], "ns/int")
    # serving artifacts: engine getters (flat) or the whole reopen (zipf)
    setup = named("setup")[0]
    m["serve_artifacts_s"] = (sum(
        _dur(s) for s in tracer.spans if s["parent"] == setup["id"]
        and (s["name"].rsplit(".", 1)[-1] in ("get_universe", "get_norm_slices",
                                             "get_sharded_blocks")
             or s["name"] == "reopen")), "s")

    # ---- serving layers, per timed batch
    from workloads import FAMILY

    timed = [r for r in recs if r["timed"]]
    tails = {}
    for fam in dict.fromkeys(FAMILY.values()):
        rs = [r for r in timed if FAMILY[r["op"]] == fam]
        sp = [r["span"] for r in rs]
        m[f"{fam}_batches"] = (len(rs), "count")
        m[f"{fam}_batch_p50_ms"] = (_med(r["wall"] for r in rs) * 1e3, "ms")
        tails[fam] = _pctl_with_tail([r["wall"] for r in rs])
        for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count")):
            m[f"{fam}_{key}_per_batch"] = (_med(_sum(tracer, s, key) for s in sp), unit)
        m[f"{fam}_exec_run_ms_per_batch"] = (
            _med(_sum(tracer, s, "exec_run_ms") for s in sp), "ms")
        m[f"{fam}_shuffle_kb_per_query"] = (_med(
            (_sum(tracer, s, "shuffle_read") + _sum(tracer, s, "shuffle_write"))
            / len(r["batch"]) for s, r in zip(sp, rs)) / 1e3, "KB")
        m[f"{fam}_plan_ms_per_batch"] = (_med(
            sum(_dur(c) for c in tracer.spans
                if c["parent"] == s["id"] and c["layer"].startswith("operators."))
            for s in sp) * 1e3, "ms")
    m["driver_overhead_ms_per_batch"] = (_med(
        r["wall"] * 1e3 - _sum(tracer, r["span"], "exec_run_ms") / cpus for r in timed), "ms")
    t = probes["blocks_handed"]
    m["wand_blocks_handed"] = (t, "count")
    m["wand_docs_decoded_fraction"] = (probes["docs_decoded"] / t if t else 0.0, "ratio")
    m["wand_freqs_decoded_fraction"] = (probes["freqs_decoded"] / t if t else 0.0, "ratio")

    layers = tracer.self_times()
    overhead = tracing_overhead(out_dir, note["workload"], e2e)
    os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
    path = os.path.join(out_dir, "traces",
                        f"{note['workload']}-{note['seed']}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"note": note, "layers_self_time": layers, "builder": builder,
                   "batch_tail": tails, "tracing_overhead": overhead,
                   "traced_end_to_end": {k: v for k, (v, _u) in e2e.items()},
                   "spans": [{k: v for k, v in s.items()} for s in tracer.spans]},
                  f, indent=1)
    print(f"# trace: {os.path.relpath(path, os.path.dirname(out_dir))}")
    print("# layer                   calls    wall_s    self_s   jobs   tasks  exec_run_s")
    for name, d in sorted(layers.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"# {name:22s} {d['calls']:6d} {d['wall_s']:9.3f} {d['self_s']:9.3f} "
              f"{d['jobs']:6d} {d['tasks']:7d} {d['exec_run_ms'] / 1e3:10.3f}")
    if builder:
        print("# builder: " + json.dumps(builder))
    print("# batch tail percentiles: " + json.dumps(tails))
    print("# tracing overhead: " + json.dumps(overhead))
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def builder_breakdown(tracer, wl) -> dict | None:
    """index.builder: the stage walls it writes to _lineage/*.json, and
    the part of IndexBuilder.build outside those stages."""
    builds = [s for s in tracer.spans if s["name"].endswith("IndexBuilder.build")]
    if not builds:
        return None
    stages = {st: wl.lineage(st)["wall_sec"] for st in ("postings", "model", "index", "verify")}
    wall = _dur(builds[-1])
    return {"build_wall_s": wall, "stages_s": stages,
            "outside_stages_s": wall - sum(stages.values())}


def tracing_overhead(out_dir: str, workload: str, e2e: dict) -> dict:
    """Traced end-to-end metrics minus the medians of the untraced runs
    recorded in this checkout (perfbench/out/results)."""
    path = os.path.join(out_dir, "results", f"{workload}.jsonl")
    if not os.path.exists(path):
        return {"untraced_runs": 0}
    with open(path) as f:
        runs = [json.loads(line)["metrics"] for line in f if line.strip()]
    out = {"untraced_runs": len(runs)}
    for k in ("setup_s", "topk_qps", "bool_qps", "decode_ints_per_s"):
        base = _med(r[k]["value"] for r in runs)
        out[k] = {"traced": e2e[k][0], "untraced_median": base,
                  "delta": e2e[k][0] - base,
                  "delta_pct": (e2e[k][0] - base) / base * 100 if base else None}
    return out
