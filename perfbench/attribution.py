"""Per-layer metrics of a traced run.

Each layer is named after a package module. Spark's recorded counters are
read once, when the run ends, and tied to an operation through the job
groups of the operation's spans. Within one operation, plan nodes name the
layer: `MapInPandas` is the extraction kernel (the fused kernel in the
fused job), `ArrowEvalPython` is the spatial join's refine UDF, and a
`BroadcastExchange` in an assignment job is the spatial join's cell-table
broadcast. Per-stage counters belong to the module whose call built the
plan the operation runs; see perfbench/README.md for the table of which
end-to-end metric each should move.
"""

from __future__ import annotations

import json
import os
import pickle

from layers import StatusStores, median, node_sum

_S, _B, _N, _R = "s", "B", "count", "ratio"
_STAGE_MODULES = ("extract", "fused", "spatial_join", "tiles", "knn", "checkpoint", "incremental")
_SPAN_MODULES = ("extract", "spatial_join", "fused", "tiles", "knn", "incremental", "action")

PER_LAYER: list[tuple[str, str]] = [
    ("extract.python_run_s", _S),
    ("extract.python_init_s", _S),
    ("extract.bytes_to_python", _B),
    ("extract.bytes_from_python", _B),
    ("extract.scan_s", _S),
    ("extract.rows_per_page", _R),
    ("extract.rejected", _N),
    ("fused.python_run_s", _S),
    ("fused.python_init_s", _S),
    ("fused.refined_fraction", _R),
    ("spatial_join.stage_s", _S),
    ("spatial_join.broadcast_build_s", _S),
    ("spatial_join.refine_fraction", _R),
    ("spatial_join.python_run_s", _S),
    ("spatial_join.python_init_s", _S),
    ("spatial_join.no_match", _N),
    ("spatial_join.scan_amplification", _R),
    ("tiles.stage_s", _S),
    ("tiles.shuffle_write_bytes", _B),
    ("tiles.n_stages", _N),
    ("tiles.n_tiles", _N),
    ("knn.stage_s", _S),
    ("knn.rounds", _N),
    ("knn.candidates_per_result", _R),
    ("knn.shuffle_write_bytes", _B),
    ("polygons.prep_s", _S),
    ("polygons.cover_rows", _N),
    ("polygons.pack_bytes", _B),
    ("checkpoint.write_s", _S),
    ("checkpoint.read_s", _S),
    ("checkpoint.bytes_written", _B),
    ("checkpoint.write_amplification", _R),
    ("incremental.jobs_per_batch", _N),
    ("incremental.python_init_s", _S),
    ("incremental.execution_s", _S),
    *[
        (f"{m}.{k}", u)
        for m in _STAGE_MODULES
        for k, u in (
            ("cpu_s", _S),
            ("gc_s", _S),
            ("shuffle_read_bytes", _B),
            ("spill_bytes", _B),
            ("task_skew", _R),
        )
    ],
    *[(f"{m}.self_s", _S) for m in _SPAN_MODULES],
    ("trace.cycle_p50_s", _S),
]

_RUN, _INIT = "time to run Python workers", "time to initialize Python workers"
_SENT, _BACK = "data sent to Python workers", "data returned from Python workers"
_ROWS = "number of output rows"
_WRITE = "Execute InsertIntoHadoopFsRelationCommand"


def _stage_counters(module: str, stages: list) -> dict:
    if not stages:
        return {}
    longest = max(stages, key=lambda s: s.run_s)
    return {
        f"{module}.cpu_s": sum(s.cpu_s for s in stages),
        f"{module}.gc_s": sum(s.gc_s for s in stages),
        f"{module}.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
        f"{module}.spill_bytes": sum(s.spill_bytes for s in stages),
        f"{module}.task_skew": longest.task_skew,
    }


def _op_layers(op, execs: list, stages: list, jobs: list[int], job_stages: dict, all_stages: dict) -> dict:
    """Layer values of one operation from its executions and stages."""
    job = op.kind.split(".", 1)[1]

    def nsum(node: str, metric: str, **kw) -> float:
        return node_sum(execs, node, metric, **kw)

    v: dict[str, float] = {}
    if job in ("assign", "batch", "fused"):
        mod = "fused" if job == "fused" else "extract"
        v[f"{mod}.python_run_s"] = nsum("MapInPandas", _RUN)
        v[f"{mod}.python_init_s"] = nsum("MapInPandas", _INIT)
    if job in ("assign", "batch"):
        store = op.extra.get("store_root", "\0")
        v["extract.bytes_to_python"] = nsum("MapInPandas", _SENT)
        v["extract.bytes_from_python"] = nsum("MapInPandas", _BACK)
        v["extract.rows_per_page"] = nsum("MapInPandas", _ROWS) / op.rows
        v["extract.scan_s"] = nsum("Scan parquet", "scan time", desc_not=store)
        v["spatial_join.python_run_s"] = nsum("ArrowEvalPython", _RUN)
        v["spatial_join.python_init_s"] = nsum("ArrowEvalPython", _INIT)
        v["spatial_join.refine_fraction"] = nsum("ArrowEvalPython", _ROWS) / op.rows
        v["spatial_join.broadcast_build_s"] = nsum("BroadcastExchange", "time to build") + nsum(
            "BroadcastExchange", "time to collect"
        )
        v["spatial_join.scan_amplification"] = nsum("Scan parquet", _ROWS, desc_not=store) / op.rows
    if job == "assign":
        v["spatial_join.stage_s"] = sum(s.run_s for s in stages)
        v["spatial_join.no_match"] = op.extra["no_match"]
        v.update(_stage_counters("spatial_join", stages))
        v.update(_stage_counters("extract", [s for s in stages if s.input_records > 0]))
    elif job == "tiles":
        v["tiles.stage_s"] = sum(s.run_s for s in stages)
        v["tiles.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in stages)
        v["tiles.n_stages"] = len(stages)
        v["tiles.n_tiles"] = op.extra["n_tiles"]
        v.update(_stage_counters("tiles", stages))
    elif job == "fused":
        v["fused.refined_fraction"] = op.extra["refined"] / op.rows
        v["extract.rejected"] = op.extra["rejected"]
        v.update(_stage_counters("fused", stages))
    elif job == "knn":
        v["knn.stage_s"] = sum(s.run_s for s in stages)
        # knn_df runs one count per ring-expansion round, then one count to
        # materialize its result; the benchmark's write is the last action
        v["knn.rounds"] = len(execs) - 2
        # candidates: output of the point ⋈ ring-cell join (keyed on cell)
        v["knn.candidates_per_result"] = nsum("BroadcastHashJoin", _ROWS, desc_has="cell#") / op.extra["results"]
        v["knn.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in stages)
        v.update(_stage_counters("knn", stages))
    elif job == "batch":
        store = op.extra["store_root"]
        writes = [e for e in execs if e.has(_WRITE, store)]
        written_rows = node_sum(writes, _WRITE, _ROWS)
        written = node_sum(writes, _WRITE, "written output")
        v["checkpoint.write_s"] = sum(e.duration_s for e in writes)
        v["checkpoint.read_s"] = nsum("Scan parquet", "scan time", desc_has=store)
        v["checkpoint.bytes_written"] = written
        # bytes written ÷ bytes of the batch's new rows, at the written
        # table's mean bytes per row
        v["checkpoint.write_amplification"] = (
            written / (written / written_rows * op.rows) if written_rows and written else 0.0
        )
        v["incremental.jobs_per_batch"] = len(jobs)
        v["incremental.python_init_s"] = nsum("MapInPandas", _INIT) + nsum("ArrowEvalPython", _INIT)
        v["incremental.execution_s"] = median([e.duration_s for e in execs])
        v.update(_stage_counters("incremental", stages))
        write_jobs = {j for e in writes for j in e.jobs}
        v.update(
            _stage_counters(
                "checkpoint",
                [all_stages[s] for j in write_jobs for s in job_stages.get(j, []) if s in all_stages],
            )
        )
    return v


def layer_metrics(b, first_eid: int) -> dict:
    """Every PER_LAYER metric for the run, as {name: {value, unit}}: the
    median over the run's operations (0 where a layer did no work)."""
    stores = StatusStores(b.spark)
    group_of = stores.job_groups()
    job_stages = stores.job_stages()
    execs = stores.executions(first_eid)
    all_stages = stores.stages()
    spans = b.tracer.spans
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    samples: dict[str, list[float]] = {}
    for op in b.ops:
        if not op.ok or op.span is None:
            continue
        tree, todo = [], [op.span]
        while todo:
            s = todo.pop()
            tree.append(s)
            todo.extend(kids.get(s.span_id, []))
        groups = {s.group for s in tree}
        jobs = sorted(j for j, g in group_of.items() if g in groups)
        job_set = set(jobs)
        op_execs = [e for e in execs if job_set & set(e.jobs)]
        stage_ids = {s for j in jobs for s in job_stages.get(j, [])}
        stages = [all_stages[s] for s in sorted(stage_ids) if s in all_stages]
        vals = _op_layers(op, op_execs, stages, jobs, job_stages, all_stages)
        for s in tree[1:]:
            if s.module in _SPAN_MODULES:
                key = f"{s.module}.self_s"
                vals[key] = vals.get(key, 0.0) + b.tracer.self_time(s)
        for k, x in vals.items():
            samples.setdefault(k, []).append(float(x))

    samples["polygons.prep_s"] = [b.prep_s]
    samples["polygons.cover_rows"] = [b.index.n_cover_rows]
    samples["polygons.pack_bytes"] = [len(pickle.dumps(b.index.pack))]
    samples["trace.cycle_p50_s"] = [median(b.cycles)]
    return {name: {"value": median(samples.get(name, [])), "unit": unit} for name, unit in PER_LAYER}


def write_spans(b, directory: str) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"{b.tracer.run_id}.jsonl")
    with open(path, "w") as f:
        for row in b.tracer.to_rows():
            f.write(json.dumps(row) + "\n")
    return path
