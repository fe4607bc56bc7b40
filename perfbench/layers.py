"""The traced run: wrappers at the layer boundaries, per-layer metrics
per traced pass, the per-layer table, and the span dump.

Each per-layer metric should move one end-to-end metric (the map is in
perfbench/baseline.json, "layers"). Times are the median over the traced
passes; the counts in EQUAL_WORK must repeat exactly between them.
"""

from __future__ import annotations

import os
import statistics
import time

import spans
from workloads import NEAR_DUP_QUERIES

MODULES = ["session", "pipeline", "textx", "joins", "tiles", "lineage",
           "tablefmt", "relops", "dedup", "ann"]

#: (metric, unit); the order is the printed table's order
PER_LAYER = [
    ("session.cold_start_s", "s"),
    ("session.get_spark_s", "s"),
    ("pipeline.prepare_boundaries_s", "s"),
    ("session.spread_input_calls", "count"),
    ("session.spread_input_s", "s"),
    ("session.stage_persist_calls", "count"),
    ("session.stage_persist_hits", "count"),
    ("textx.ingest_s", "s"),
    ("textx.rows_in", "count"),
    ("textx.rows_ok", "count"),
    ("textx.rows_geo", "count"),
    ("joins.pip_s", "s"),
    ("joins.points_in", "count"),
    ("joins.rows_assigned", "count"),
    ("joins.python_rows", "count"),
    ("joins.python_bytes", "bytes"),
    ("tiles.agg_s", "s"),
    ("tiles.rows_out", "count"),
    ("tiles.shuffle_bytes", "bytes"),
    ("lineage.ingest_ms", "ms"),
    ("lineage.assign_ms", "ms"),
    ("lineage.tiles_ms", "ms"),
    ("lineage.rerun_ingest_ms", "ms"),
    ("lineage.rerun_assign_ms", "ms"),
    ("lineage.rerun_tiles_ms", "ms"),
    ("lineage.fingerprint_s", "s"),
    ("lineage.partitions_recomputed", "count"),
    ("lineage.partitions_total", "count"),
    ("lineage.noop_rerun_s", "s"),
    ("lineage.bytes_written", "bytes"),
    ("lineage.files_written", "count"),
    ("tablefmt.commit_s", "s"),
    ("tablefmt.files", "count"),
] + [(f"relops.{q}_s", "s") for q in NEAR_DUP_QUERIES] + [
    ("dedup.shingles_s", "s"),
    ("dedup.signatures_s", "s"),
    ("dedup.candidates_s", "s"),
    ("dedup.verify_s", "s"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.verified_pairs", "count"),
    ("dedup.useful_ratio", "ratio"),
    ("ann.lsh_signature_s", "s"),
    ("ann.near_pairs_s", "s"),
    ("ann.pairs_out", "count"),
    ("plan.exchanges", "count"),
    ("plan.shuffle_bytes", "bytes"),
    ("plan.spill_bytes", "bytes"),
    ("plan.peak_mem_mb", "MB"),
    ("plan.python_rows", "count"),
    ("plan.tasks", "count"),
    ("plan.failed_tasks", "count"),
] + [(f"{m}.self_s", "s") for m in MODULES] + [
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
]

#: counts that must be identical in every traced pass (equal work)
EQUAL_WORK = ["session.stage_persist_hits", "session.stage_persist_calls",
              "plan.tasks", "plan.exchanges", "textx.rows_in",
              "joins.rows_assigned", "dedup.candidate_pairs",
              "ann.pairs_out"]


def install(tracer) -> None:
    """Wrap the public functions the workloads reach, at the attribute
    their callers look up."""
    from pyspark.sql import functions as F

    from posmspark import ann, dedup, lineage, pipeline, session, textx, tiles

    tracer.wrap(session, "spread_input", "session.spread_input",
                materialize=False)
    tracer.wrap(session, "stage_persist", "session.stage_persist",
                materialize=False, count_hits=True)
    tracer.wrap(textx, "with_ingest_jvm", "textx.with_ingest_jvm",
                counters=lambda: {
                    "rows": F.count(F.lit(1)),
                    "ok": F.sum(F.col("text_ok").cast("long")),
                    "geo": F.sum((F.col("text_ok") & F.col("lat").isNotNull())
                                 .cast("long"))})
    tracer.wrap(pipeline, "pip_join", "joins.pip_join",
                input_counter="points_in")
    tracer.wrap(tiles, "cell_admin_tile_stats", "tiles.cell_admin_tile_stats")
    for fn in ("run_stage", "run_stage_incremental",
               "fingerprint_partition_dir"):
        tracer.wrap(lineage, fn, f"lineage.{fn}", materialize=False)
    for fn in ("shingles", "shingle_hash_arrays", "minhash_signatures",
               "lsh_candidate_pairs", "verify_jaccard"):
        tracer.wrap(dedup, fn, f"dedup.{fn}")
    for fn in ("with_lsh_signature", "cosine_near_pairs_lsh"):
        tracer.wrap(ann, fn, f"ann.{fn}")


def pass_metrics(pass_spans, extra: dict, tasks: tuple) -> dict:
    def named(*names):
        return [s for s in pass_spans if s.name in names]

    def dur(*names):
        return sum(s.duration for s in named(*names))

    def cnt(key, *names):
        return sum(s.counts.get(key, 0.0) for s in named(*names))

    def plan(key, *names):
        ss = named(*names) if names else pass_spans
        return sum(s.plan.get(key, 0.0) for s in ss)

    cand = cnt("rows", "dedup.lsh_candidate_pairs")
    ver = cnt("rows", "dedup.verify_jaccard")
    m = {
        "session.spread_input_calls": len(named("session.spread_input")),
        "session.spread_input_s": dur("session.spread_input"),
        "session.stage_persist_calls": len(named("session.stage_persist")),
        "session.stage_persist_hits": cnt("hits", "session.stage_persist"),
        "textx.ingest_s": dur("textx.with_ingest_jvm"),
        "textx.rows_in": cnt("rows", "textx.with_ingest_jvm"),
        "textx.rows_ok": cnt("ok", "textx.with_ingest_jvm"),
        "textx.rows_geo": cnt("geo", "textx.with_ingest_jvm"),
        "joins.pip_s": dur("joins.pip_join"),
        "joins.points_in": cnt("points_in", "joins.pip_join"),
        "joins.rows_assigned": cnt("rows", "joins.pip_join"),
        "joins.python_rows": plan("python_rows", "joins.pip_join"),
        "joins.python_bytes": plan("python_bytes", "joins.pip_join"),
        "tiles.agg_s": dur("tiles.cell_admin_tile_stats"),
        "tiles.rows_out": cnt("rows", "tiles.cell_admin_tile_stats"),
        "tiles.shuffle_bytes": plan("shuffle_bytes",
                                    "tiles.cell_admin_tile_stats"),
        "tablefmt.commit_s": dur("tablefmt.commit_overwrite"),
        "dedup.shingles_s": dur("dedup.shingles", "dedup.shingle_hash_arrays"),
        "dedup.signatures_s": dur("dedup.minhash_signatures"),
        "dedup.candidates_s": dur("dedup.lsh_candidate_pairs"),
        "dedup.verify_s": dur("dedup.verify_jaccard"),
        "dedup.candidate_pairs": cand,
        "dedup.verified_pairs": ver,
        "dedup.useful_ratio": ver / cand if cand else 0.0,
        "ann.lsh_signature_s": dur("ann.with_lsh_signature"),
        "ann.near_pairs_s": dur("ann.cosine_near_pairs_lsh"),
        "ann.pairs_out": cnt("rows", "ann.cosine_near_pairs_lsh"),
        "plan.exchanges": plan("exchanges"),
        "plan.shuffle_bytes": plan("shuffle_bytes"),
        "plan.spill_bytes": plan("spill_bytes"),
        "plan.peak_mem_mb": max([s.plan.get("peak_mem_bytes", 0.0)
                                 for s in pass_spans] + [0.0]) / 2**20,
        "plan.python_rows": plan("python_rows"),
        "plan.tasks": tasks[0],
        "plan.failed_tasks": tasks[1],
    }
    for q in NEAR_DUP_QUERIES:
        m[f"relops.{q}_s"] = dur(f"relops.{q}")
    own = spans.self_times(pass_spans)
    for mod in MODULES:
        m[f"{mod}.self_s"] = own.get(mod, 0.0)
    m.update(extra)
    return m


def traced_run(ctx, wl, setups, timed_passes) -> dict:
    """After the warm-up: traced, untraced (by timed_passes), traced.
    Per-layer metrics are medians over the traced passes; the untraced
    pass between them is the baseline of trace.overhead_s."""
    tracer = spans.Tracer(ctx.spark, f"{wl.name}-s{ctx.seed}-{os.getpid()}")
    sc = ctx.spark.sparkContext
    ctx.runs = wl.traced_runs
    per_pass, walls = [], []

    def traced_pass(i: int) -> None:
        install(tracer)
        ctx.tracer = tracer
        group = f"perfbench-traced-{i}"
        sc.setJobGroup(group, group)
        tracer.plan.skip()
        n0 = len(tracer.spans)
        try:
            with tracer.span("perfbench.pass"):
                res = wl.run_pass(ctx, i)
        finally:
            tracer.release()
            tracer.unwrap()
            ctx.tracer = None
        walls.append(res["base_s"])
        per_pass.append(pass_metrics(tracer.spans[n0:], res.get("layers", {}),
                                     spans.task_counts(sc, group)))
        wl.check(ctx, i, res)

    i = 0
    traced_pass(i)
    untraced = timed_passes(ctx, wl, 0, i + 1)
    traced_pass(i + 2)
    os.makedirs(os.path.join(ctx.work, "traces"), exist_ok=True)
    tracer.dump(os.path.join(ctx.work, "traces", f"{tracer.run_id}.json"))

    for key in EQUAL_WORK:
        vals = [p.get(key, 0.0) for p in per_pass]
        ctx.check(f"traced passes do equal work: {key}",
                  len(set(vals)) == 1, f"{vals}")
    out = {}
    for name, unit in PER_LAYER:
        vals = [p[name] for p in per_pass if name in p]
        if vals:
            out[name] = (statistics.median(vals), unit)
    wall = statistics.median(walls)
    out.update({
        "session.cold_start_s": (setups[0][0], "s"),
        "session.get_spark_s": (statistics.median(s[1] for s in setups[1:]),
                                "s"),
        "pipeline.prepare_boundaries_s": (
            statistics.median(s[2] for s in setups), "s"),
        "trace.wall_s": (wall, "s"),
        "trace.overhead_s": (wall - untraced[0]["base_s"], "s"),
    })
    result = {name: out.get(name, (0.0, unit)) for name, unit in PER_LAYER}
    print(f"per-layer metrics, {wl.name}, median of {len(per_pass)} traced "
          f"passes (zero rows omitted)")
    for name, (v, unit) in result.items():
        if v:
            print(f"  {name:<40} {v:>16.6g} {unit}")
    return result


def checkpoint_layers(ctx, wl, res, pages: str, wd: str, table: str) -> dict:
    """lineage/tablefmt metrics of a traced checkpoint pass, read from
    the manifests, the files written and the table snapshot; then an
    unchanged rerun, timed."""
    from posmspark import lineage, tablefmt
    from posmspark.pipeline import run_pipeline

    cold, cold_files = res["cold"]
    warm = wl.manifests(wd)
    files = file_state(wd, table)
    new = {p: v for p, v in files.items() if cold_files.get(p) != v}
    snap = tablefmt.read_snapshot_meta(table,
                                       tablefmt.current_snapshot_id(table))
    out = {f"lineage.{s}_ms": cold[s].get("wall_ms", 0) for s in wl.stages}
    out.update({f"lineage.rerun_{s}_ms": warm[s].get("wall_ms", 0)
                for s in wl.stages})
    out.update({
        "lineage.partitions_recomputed":
            len(warm["ingest"].get("last_recomputed", [])),
        "lineage.partitions_total":
            len(warm["ingest"].get("input_partitions", {})),
        "lineage.bytes_written": sum(v[0] for v in cold_files.values())
        + sum(v[0] for v in new.values()),
        "lineage.files_written": len(cold_files) + len(new),
        "tablefmt.files": len(snap.get("files", [])),
        "lineage.fingerprint_s": timed(lineage.fingerprint_partition_dir,
                                       pages, "lang"),
    })
    with ctx.span("perfbench.noop_rerun"):
        out["lineage.noop_rerun_s"] = timed(
            run_pipeline, ctx.spark, pages, workdir=wd, incremental_by="lang")
    return out


def file_state(*dirs) -> dict:
    """path -> (size, mtime_ns) of every file under dirs."""
    out = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def timed(fn, *args, **kwargs) -> float:
    t0 = time.monotonic()
    fn(*args, **kwargs)
    return time.monotonic() - t0
