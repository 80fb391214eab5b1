"""Turns a run's raw record (written by graftbench.Main) into metrics.

End-to-end metrics come from every run; per-layer metrics only from
traced runs, where they are computed over the traced operations alone.
"""

import statistics

from . import stats

WORKLOADS = ("graph_loops", "gold_serve")
MB = 1048576.0


def check(record, reference):
    """Marks each operation ``ok``; returns the names of failures with why.

    A query repetition must match its reference digest; a gold write or
    lookup must not have raised (the JVM already compared each lookup with
    the digest of the write it follows and reports a mismatch as an error).
    """
    failures = []
    for op in record["ops"]:
        err = op["error"]
        if err is None and op["kind"] == "query":
            want = reference.get(op["name"])
            got = [op["rows"], op["hash"]]
            if want is None:
                err = "no reference digest recorded"
            elif got != want:
                err = f"digest {got} != reference {want}"
        op["ok"] = err is None
        if err is not None:
            failures.append(f"{op['name']} (pass {op['pass']}): {err}")
    return failures


def _wall(op):
    return op["build_s"] + op["action_s"]


def _passes(record, traced=None):
    """{pass: [ops]} for the measured warm passes (those after the ramp),
    optionally only the (un)traced ones."""
    out = {}
    for op in record["ops"]:
        if op["pass"] > record["ramp_passes"] and (traced is None or op["traced"] == traced):
            out.setdefault(op["pass"], []).append(op)
    return out


def end_to_end(record):
    ops = record["ops"]
    passes = _passes(record)
    walls = [sum(_wall(op) for op in p) for p in passes.values()]
    if record["workload"] == "gold_serve":
        # a pass is one gold write and the lookups that follow it
        op_ms = [_wall(op) * 1e3 for p in passes.values() for op in p if op["kind"] == "lookup"]
        detail = {"gold_write_s": [_wall(op) for p in passes.values()
                                   for op in p if op["kind"] == "write"]}
    else:
        op_ms = [_wall(op) * 1e3 for p in passes.values() for op in p]
        detail = {}
    detail.update({
        "setup_samples_s": record["setup_s"],
        "warm_pass_walls_s": walls,
        "warm_pass_quartiles_s": statistics.quantiles(walls, n=4, method="inclusive"),
        "op_samples": len(op_ms),
        # the highest percentile with ten samples beyond it, if any
        "op_tail_ms": stats.tail(op_ms),
    })
    metrics = {
        "setup_s": (statistics.median(record["setup_s"]), "s"),
        "cold_pass_s": (sum(_wall(op) for op in ops if op["pass"] == 0), "s"),
        "warm_pass_s": (statistics.median(walls), "s"),
        "op_p50_ms": (statistics.median(op_ms), "ms"),
        "retained_heap_mb": (record["retained_heap_mb"], "MB"),
    }
    return metrics, detail


def _sum(ops, key):
    return sum(op["layers"][key] for op in ops)


def per_layer(record):
    ops = [op for op in record["ops"] if op["traced"]]
    traced = _passes(record, traced=True)
    untraced = _passes(record, traced=False)
    if not traced or not untraced:
        raise RuntimeError("a traced run needs traced and untraced warm passes")
    passes = list(traced.values())
    n = len(passes)

    def per_pass(fn):
        return sum(fn(p) for p in passes) / n

    def layer(key, scale=1.0):
        return per_pass(lambda p: _sum(p, key)) * scale

    cold_wall = sum(_wall(op) for op in ops if op["pass"] == 0)
    warm_walls = [sum(_wall(op) for op in p) for p in passes]
    untraced_walls = [sum(_wall(op) for op in p) for p in untraced.values()]
    # the measured passes run traced, untraced, traced: the speed-up that
    # JIT warm-up gives each later pass falls on both sides alike
    overhead = statistics.median(warm_walls) / (sum(untraced_walls) / len(untraced_walls)) - 1
    tasks = sum(_sum(p, "tasks") for p in passes)
    empty = sum(_sum(p, "empty_tasks") for p in passes)

    def unattributed(op):
        # Driver time with no job running that Catalyst's phases do not
        # explain. Build time outside jobs is not subtracted as well: the
        # eager actions of a build run Catalyst phases inside it, so the
        # two overlap and subtracting both goes negative on graph_loops.
        lay = op["layers"]
        catalyst = (lay["analysis_ms"] + lay["optimization_ms"] + lay["planning_ms"]) / 1e3
        return _wall(op) - lay["job_wall_s"] - catalyst

    warm_ops = [op for p in passes for op in p]
    writes = [op for op in warm_ops if op["kind"] == "write"]
    lookups = [op for op in warm_ops if op["kind"] == "lookup"]
    scanned = sum(op["extra"]["scanned_bytes"] for op in lookups)
    needed = sum(op["extra"]["needed_bytes"] for op in lookups)

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    m = {
        "trace.pass_wall_s": (statistics.median(warm_walls), "s"),
        "trace.overhead_frac": (overhead, "ratio"),
        "entry.build_s": (per_pass(lambda p: sum(op["build_s"] for op in p)), "s"),
        "entry.build_jobs": (layer("build_jobs"), "count"),
        "entry.cold_extra_s": (cold_wall - statistics.median(warm_walls), "s"),
        "catalyst.analysis_ms": (layer("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (layer("optimization_ms"), "ms"),
        "catalyst.planning_ms": (layer("planning_ms"), "ms"),
        "codegen.compiles": (layer("compiles"), "count"),
        "codegen.gen_compile_ms": (layer("codegen_ns", 1e-6), "ms"),
        "scheduler.jobs": (layer("jobs"), "count"),
        "scheduler.stages": (layer("stages"), "count"),
        "scheduler.tasks": (layer("tasks"), "count"),
        "scheduler.job_wall_s": (layer("job_wall_s"), "s"),
        "executor.run_s": (layer("run_ms", 1e-3), "s"),
        "executor.cpu_s": (layer("cpu_ns", 1e-9), "s"),
        "executor.gc_s": (layer("gc_ms", 1e-3), "s"),
        "executor.empty_task_frac": (empty / tasks if tasks else 0.0, "ratio"),
        "shuffle.write_mb": (layer("shuffle_write_bytes", 1 / MB), "MB"),
        "shuffle.read_mb": (layer("shuffle_read_bytes", 1 / MB), "MB"),
        "shuffle.fetch_wait_ms": (layer("fetch_wait_ms"), "ms"),
        "shuffle.spill_mb": (layer("spill_bytes", 1 / MB), "MB"),
        "storage.blocks_put": (layer("blocks_put"), "count"),
        "storage.block_mb": (layer("block_bytes", 1 / MB), "MB"),
        "sources.input_mb": (layer("input_bytes", 1 / MB), "MB"),
        "sources.input_rows": (layer("input_records"), "count"),
        "driver.unattributed_s": (per_pass(lambda p: sum(unattributed(op) for op in p)), "s"),
        "pipeline.write_job_s": (med([op["layers"]["job_wall_s"] for op in writes]), "s"),
        "pipeline.output_files": (med([op["extra"]["output_files"] for op in writes]), "count"),
        "pipeline.output_mb": (med([op["extra"]["output_mb"] for op in writes]), "MB"),
        "serve.open_ms": (med([op["extra"]["open_ms"] for op in lookups]), "ms"),
        "serve.plan_ms": (med([op["extra"]["plan_ms"] for op in lookups]), "ms"),
        "serve.exec_ms": (med([op["extra"]["exec_ms"] for op in lookups]), "ms"),
        "serve.pruned_bytes_frac": (needed / scanned if scanned else 0.0, "ratio"),
    }
    return m, {"traced_passes": n, "untraced_passes": len(untraced)}
