"""Per-layer metrics of a traced run, named after the program's modules.

Each metric is taken over the first timed round, the one `total_s`
times (medians for `kmeans.pass_s`, maxima for peaks, skew and block
layout).  A layer a workload does not call reads 0: headline passes
explicit centroids, so `kmeans.init_*` and the distributed `_lloyd_pass`
never run there, and lloyd_multiblock calls no catalog query, dedup or
similarity operator.
"""

from __future__ import annotations

import statistics

from spans import EventLog, Tracer, dur
from workloads import HEADLINE_QUERIES

E2E = ("setup_s", "total_s")

#: (name, unit, better)
PER_LAYER = (
    [("session.first_setup_s", "s", "lower"), ("session.build_s", "s", "lower"),
     ("session.warmup_s", "s", "lower")]
    + [(f"plans.{q}_s", "s", "lower") for q in HEADLINE_QUERIES]
    + [("ingest.call_s", "s", "lower"),
       ("kmeans.init_s", "s", "lower"), ("kmeans.init_jobs", "count", "lower"),
       ("kmeans.pack_s", "s", "lower"), ("kmeans.parts_in", "count", "higher"),
       ("kmeans.blocks", "count", "higher"), ("kmeans.packed_mb", "MiB", "lower"),
       ("kmeans.cache_peak_mb", "MiB", "lower"), ("kmeans.pass_s", "s", "lower"),
       ("kmeans.passes", "count", "lower"), ("kmeans.iterations", "count", "lower"),
       ("kmeans.driver_s", "s", "lower"), ("kmeans.kernel_gflop", "GFLOP", "lower"),
       ("kmeans.kernel_gflops_per_s", "GFLOP/s", "higher"),
       ("mllib.fit_s", "s", "lower"), ("mllib.iterations", "count", "lower"),
       ("mllib.transform_s", "s", "lower"),
       ("dedup.minhash_s", "s", "lower"), ("dedup.exact_s", "s", "lower"),
       ("dedup.candidates", "count", "lower"), ("dedup.pairs", "count", "higher"),
       ("dedup.verify_yield", "ratio", "higher"), ("dedup.recall", "ratio", "higher"),
       ("ann.brute_s", "s", "lower"), ("ann.lsh_s", "s", "lower"),
       ("ann.lsh_recall_at_k", "ratio", "higher"),
       ("spark.driver_gap_s", "s", "lower"), ("spark.exec_run_s", "s", "lower"),
       ("spark.jobs", "count", "lower"), ("spark.tasks", "count", "lower"),
       ("spark.exec_cpu_s", "s", "lower"), ("spark.gc_s", "s", "lower"),
       ("spark.shuffle_write_mb", "MiB", "lower"), ("spark.spill_mb", "MiB", "lower"),
       ("spark.storage_peak_mb", "MiB", "lower"), ("spark.task_skew", "ratio", "lower"),
       ("spark.slot_util", "ratio", "higher"),
       ("jvm.vmhwm_mb", "MiB", "lower")]
    + [(f"traced.{m}", "s", "lower") for m in E2E]
)
UNITS = dict((n, u) for n, u, _ in PER_LAYER)


def install(tracer: Tracer) -> None:
    """Span wrappers on the program's layer entry points."""
    from kmeans_mapreduce_spark.operators import dedup as DD
    from kmeans_mapreduce_spark.operators import kmeans as KM
    from kmeans_mapreduce_spark.operators import similarity as SIM
    from kmeans_mapreduce_spark.sources import ingest

    def fit_attrs(res, args, kwargs):
        n = sum(res.final_counts) if res.final_counts is not None else None
        k = kwargs.get("k", args[1] if len(args) > 1 else None)
        d = kwargs.get("dim", args[2] if len(args) > 2 else None)
        return {"iterations": res.iterations, "n": n, "k": k, "d": d,
                "final_pass": res.final_counts is not None}

    tracer.wrap(KM, "fit_kmeans_native", "kmeans.fit", fit_attrs)
    tracer.wrap(KM, "farthest_point_init", "kmeans.init")
    tracer.wrap(KM, "_features_blocks", "kmeans.pack",
                lambda blocks, a, kw: {"blocks": blocks.getNumPartitions()})
    tracer.wrap(KM, "_lloyd_pass", "kmeans.pass")
    tracer.wrap(KM, "fit_kmeans_mllib", "mllib.fit",
                lambda res, a, kw: {"iterations": res[0].summary.numIter})
    tracer.wrap(DD, "minhash_dedup_pairs", "dedup.minhash")
    tracer.wrap(DD, "exact_dedup", "dedup.exact")
    tracer.wrap(SIM, "brute_force_topk", "ann.brute")
    tracer.wrap(SIM, "lsh_topk", "ann.lsh")
    tracer.wrap(ingest, "points_from_embeddings", "ingest.points")
    tracer.wrap(ingest, "points_from_columns", "ingest.points")


def metrics(tracer: Tracer, ev: EventLog, nproc: int, extras: dict,
            session: dict, traced_e2e: dict, vmhwm_mb: float) -> dict:
    ops = [s for s in tracer.spans if s["parent"] is None and s["name"].startswith("op:")]

    def total(name: str) -> float:
        return sum(dur(s) for s in tracer.named(name))

    def op_time_containing(name: str) -> float:
        return sum(dur(o) for o in ops if tracer.within(o, name))

    out = {f"session.{k}": v for k, v in session.items()}
    for q in HEADLINE_QUERIES:
        out[f"plans.{q}_s"] = sum(dur(o) for o in ops if o["name"] == f"op:{q}")
    out["ingest.call_s"] = total("ingest.points")

    # kmeans: init, pack, loop
    fits = tracer.named("kmeans.fit")
    inits, packs, passes = (tracer.named(n) for n in ("kmeans.init", "kmeans.pack", "kmeans.pass"))
    out["kmeans.init_s"] = total("kmeans.init")
    out["kmeans.init_jobs"] = sum(len(ev.jobs_in(s["start"], s["end"])) for s in inits)
    out["kmeans.pack_s"] = total("kmeans.pack")
    parts = []
    for s in packs:
        stages = ev.stages_of(ev.jobs_in(s["start"], s["end"]))
        # no job inside the span: the single-partition pack is lazy and
        # runs inside the fit's one fused job
        parts.append(max((ev.stages[st]["tasks"] for st in stages), default=1))
    out["kmeans.parts_in"] = max(parts, default=0)
    out["kmeans.blocks"] = max((s["attrs"].get("blocks", 0) for s in packs), default=0)
    sized = [f["attrs"] for f in fits if f["attrs"].get("n")]
    out["kmeans.packed_mb"] = sum(a["n"] * a["d"] * 8 for a in sized) / 2**20
    out["kmeans.cache_peak_mb"] = max((ev.storage_peak(f["start"], f["end"]) for f in fits), default=0.0)
    out["kmeans.pass_s"] = statistics.median([dur(p) for p in passes]) if passes else 0.0
    out["kmeans.passes"] = len(passes)
    out["kmeans.iterations"] = sum(a.get("iterations", 0) for a in (f["attrs"] for f in fits))
    loop_s = 0.0
    for f in fits:
        loop_s += dur(f) - sum(dur(s) for s in tracer.within(f, "kmeans.init") + tracer.within(f, "kmeans.pack"))
    pass_s = sum(dur(p) for p in passes)
    out["kmeans.driver_s"] = loop_s - pass_s
    gflop = sum(3 * a["n"] * a["k"] * a["d"] * (a["iterations"] + a["final_pass"]) for a in sized) / 1e9
    out["kmeans.kernel_gflop"] = gflop
    # computed flop over the time the passes took; on the fused path the
    # passes run inside one task, so the loop time stands in for them
    kernel_time = pass_s if passes else loop_s
    out["kmeans.kernel_gflops_per_s"] = gflop / kernel_time if kernel_time > 0 else 0.0

    mllib = tracer.named("mllib.fit")
    out["mllib.fit_s"] = total("mllib.fit")
    out["mllib.iterations"] = sum(s["attrs"].get("iterations", 0) for s in mllib)
    out["mllib.transform_s"] = op_time_containing("mllib.fit") - out["mllib.fit_s"]

    out["dedup.minhash_s"] = op_time_containing("dedup.minhash")
    out["dedup.exact_s"] = op_time_containing("dedup.exact")
    out["dedup.candidates"] = extras.get("candidates", 0)
    out["dedup.pairs"] = extras.get("pairs", 0)
    out["dedup.verify_yield"] = out["dedup.pairs"] / out["dedup.candidates"] if out["dedup.candidates"] else 0.0
    out["dedup.recall"] = extras.get("recall", 0.0)
    out["ann.brute_s"] = op_time_containing("ann.brute")
    out["ann.lsh_s"] = op_time_containing("ann.lsh")
    out["ann.lsh_recall_at_k"] = extras.get("lsh_recall", 0.0)

    # Spark engine, folded over the timed ops
    jobs = [j for o in ops for j in ev.jobs_in(o["start"], o["end"])]
    tasks = ev.tasks_of(jobs)
    span_s = sum(dur(o) for o in ops)
    run_s = sum(t["run"] for t in tasks)
    out["spark.driver_gap_s"] = sum(dur(o) - ev.busy(o["start"], o["end"]) for o in ops)
    out["spark.exec_run_s"] = run_s
    out["spark.jobs"] = len(jobs)
    out["spark.tasks"] = len(tasks)
    out["spark.exec_cpu_s"] = sum(t["cpu"] for t in tasks)
    out["spark.gc_s"] = sum(t["gc"] for t in tasks)
    out["spark.shuffle_write_mb"] = sum(t["shuffle_w"] for t in tasks) / 2**20
    out["spark.spill_mb"] = sum(t["spill"] for t in tasks) / 2**20
    out["spark.storage_peak_mb"] = max((ev.storage_peak(o["start"], o["end"]) for o in ops), default=0.0)
    out["spark.task_skew"] = ev.task_skew(jobs)
    out["spark.slot_util"] = run_s / (span_s * nproc) if span_s else 0.0
    out["jvm.vmhwm_mb"] = vmhwm_mb
    for m in E2E:
        out[f"traced.{m}"] = traced_e2e[m]
    return out
