"""Per-layer metrics of a traced run: spans joined with the event-log
rollup of their job groups.

Every span name below is emitted on every traced run, so the metric set
is the same on each workload; a layer the workload does not exercise
reads 0 (it did no work there).  Which end-to-end metric each layer
should move, on which workload, is mapped in perfbench/README.md.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

# span name -> its extra counts (beyond the common metrics)
SPANS: dict[str, tuple[str, ...]] = {
    # pairs_pipeline
    "run_pipeline": (),
    "neardup_phash_map": ("map_rows",),
    "decode_validate_inline": (),
    "run_cascade": (),
    "checkpoint_run": (),
    "metrics_rollup": (),
    # corpus_prep
    "prepare_corpus": (),
    "train_models_fused": (),
    "clean_lines": (),
    "minhash_lsh_pairs": ("lsh_pairs",),
    "langid_udf": (),
    "perplexity_udf": (),
    "pack_bins": (),
    # stream replay (traced on corpus_prep)
    "stage_and_drain_many": ("stage_s",),
    "stage_and_drain": ("stage_s",),
    "stream_exact_dedup": ("batches", "input_rows", "state_rows"),
    # the decisions arm is stateless: no state store, no state rows
    "stream_decisions": ("batches", "input_rows"),
    "stream_metrics": ("batches", "input_rows", "state_rows"),
    "stream_sessionize": ("batches", "input_rows", "state_rows"),
}
# spans with child spans: these also report self time
PARENTS = ("run_pipeline", "run_cascade", "prepare_corpus", "stage_and_drain_many", "stage_and_drain")
# spans whose plans are narrow by construction (a scan and projections,
# no exchange): they never write shuffle or spill, so they report neither
NARROW = ("decode_validate_inline", "langid_udf", "perplexity_udf", "stream_decisions")

COMMON = ("wall_s", "jobs", "task_cpu_s", "core_util")
EXCHANGE = ("shuffle_write_mb", "spill_mb")
UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "task_cpu_s": "s",
    "core_util": "ratio", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "map_rows": "rows", "lsh_pairs": "pairs", "batches": "count",
    "input_rows": "rows", "state_rows": "rows", "stage_s": "s",
}
HIGHER_IS_BETTER = {"core_util"}
OVERHEAD = "trace_overhead_frac"
# the driver JVM's peak memory at the end of the traced run: it moves with
# GC timing between identical runs, so it is reported here, ungated
MEMORY = {"driver_jvm.peak_rss_mb": "MB"}


def metric_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in order."""
    out = []
    for span, counts in SPANS.items():
        fields = (
            COMMON
            + (() if span in NARROW else EXCHANGE)
            + (("self_s",) if span in PARENTS else ())
            + counts
        )
        for f in fields:
            better = "higher" if f in HIGHER_IS_BETTER else "lower"
            out.append((f"{span}.{f}", UNITS[f], better))
    out.append((OVERHEAD, "ratio", "lower"))
    out.extend((name, unit, "lower") for name, unit in MEMORY.items())
    return out


def per_layer(spans, groups: dict, cores: int, plain: list[float], parents: list, memory: dict):
    """-> (metrics, units, printable table)."""
    from .trace import self_time

    children = defaultdict(list)
    for s in spans:
        if s.parent:
            children[s.parent].append(s)

    def inclusive(s) -> dict:
        tot = defaultdict(float)
        stack = [s]
        while stack:
            x = stack.pop()
            for k, v in groups.get(x.run_id, {}).items():
                tot[k] += v
            stack.extend(children[x.run_id])
        return tot

    per_span = defaultdict(list)
    for s in spans:
        g = inclusive(s)
        row = {
            "wall_s": s.wall,
            "self_s": self_time(s, children[s.run_id]),
            "jobs": g["jobs"],
            "task_cpu_s": g["task_cpu_s"],
            "core_util": g["task_s"] / (s.wall * cores) if s.wall > 0 else 0.0,
            "shuffle_write_mb": g["shuffle_write_mb"],
            "spill_mb": g["spill_mb"],
        }
        row.update(s.counts)
        per_span[s.name].append(row)

    metrics, units = {}, {}
    for name, unit, _ in metric_names():
        units[name] = unit
        if name == OVERHEAD:
            continue
        if name in MEMORY:
            metrics[name] = memory[name]
            continue
        span, field = name.rsplit(".", 1)
        vals = [r[field] for r in per_span.get(span, []) if field in r]
        metrics[name] = float(statistics.median(vals)) if vals else 0.0
    traced = [p.wall for p in parents]
    metrics[OVERHEAD] = (
        statistics.median(traced) / statistics.median(plain) - 1 if traced and plain else 0.0
    )

    table = [
        f"{'span':24s} {'n':>2s} {'wall_s':>8s} {'self_s':>8s} {'jobs':>5s} "
        f"{'cpu_s':>8s} {'util':>5s} {'shufMB':>7s} {'spillMB':>7s}  counts"
    ]
    for span in SPANS:
        rows = per_span.get(span)
        if not rows:
            continue
        med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        cnt = {k: med[k] for k in SPANS[span]}
        table.append(
            f"{span:24s} {len(rows):2d} {med['wall_s']:8.3f} {med['self_s']:8.3f} "
            f"{med['jobs']:5.0f} {med['task_cpu_s']:8.3f} {med['core_util']:5.2f} "
            f"{med['shuffle_write_mb']:7.2f} {med['spill_mb']:7.2f}  {cnt or ''}"
        )
    if traced and plain:
        table.append(
            f"tracing overhead: traced parent wall {statistics.median(traced):.3f} s "
            f"vs untraced {statistics.median(plain):.3f} s -> {metrics[OVERHEAD]:+.3f}"
        )
    return metrics, units, table
