"""Checkpoint-resumable stages with per-partition lineage metrics.

The reference's resilience story is per-feature try/except with
DELETE-and-continue plus a timing log table
(/root/reference/extractor/postgis_sql/proc_functions.sql:20,47-52,74-78)
and batch re-runs via osmupdate diffs (POSMmanagement/osmdata.py:87-134).
Our Spark restatement (SURVEY.md §2.8): every pipeline stage writes
Parquet + a _manifest.json carrying

  {stage, input_fingerprint, schema, n_rows, n_partitions,
   partitions: [{partition_id, rows}...], wall_ms}

A rerun whose (stage, input_fingerprint) matches an existing manifest
skips the stage and reads the checkpoint — resume-from-any-stage. The
per-partition row counts are the north rule's lineage metrics. They
cost no pass over the data: a full write's counts are the num_rows of
the parquet footers it just wrote, and an incremental rebuild's come
from the one per-key count it already runs to find the keys it emitted.
Every checkpoint read passes the manifest's stored schema, so it
launches no schema-inference job either.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

from posmspark.tablefmt import collect_files

MANIFEST = "_manifest.json"

# partition-key charset safe from hive path escaping (see
# run_stage_incremental)
import re  # noqa: E402

_SAFE_KEY = re.compile(r"[A-Za-z0-9_.\-]+")


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST)


def read_manifest(out_dir: str) -> dict | None:
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_manifest(out_dir: str, manifest: dict) -> None:
    with open(_manifest_path(out_dir), "w") as f:
        json.dump(manifest, f, indent=1)


def _read_checkpoint(spark: SparkSession, out_dir: str,
                     man: dict | None) -> DataFrame:
    """Read a checkpoint by its manifest's stored schema: no footer-
    sampling inference job. A manifest without one (written before
    schemas were stored) falls back to inference."""
    reader = spark.read
    if man and man.get("schema"):
        reader = reader.schema(StructType.fromJson(man["schema"]))
    return reader.parquet(out_dir)


def _as_nullable(t):
    """Spark's asNullable: what a parquet read reports for written data
    (every field, array element and map value nullable)."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType),
                                       True, f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType),
                       True)
    return t


def run_stage(
    spark: SparkSession,
    stage: str,
    input_fingerprint: str,
    out_dir: str,
    build: "callable",
    force: bool = False,
) -> DataFrame:
    """Run (or resume) one checkpointed stage.

    build() -> DataFrame is only invoked on a cache miss. The stage is
    atomic: parquet lands first, the manifest last, so a killed run
    leaves no manifest and simply recomputes (kill-and-resume test).

    Manifest: {stage, input_fingerprint, schema, n_rows, n_partitions,
    partitions: [{partition_id, rows}], wall_ms}. `partition_id` is
    the ordinal of a written part file in name order (part-00000...,
    so the write task's order; a task that wrote no rows has no file)
    and `rows` is that file's parquet-footer row count. `schema` is
    StructType.jsonValue() of what spark.read.parquet(out_dir) infers;
    resuming reads the checkpoint by it, so a resume runs no Spark job.
    """
    man = read_manifest(out_dir)
    if not force and man and man.get("input_fingerprint") == input_fingerprint \
            and man.get("stage") == stage:
        out = _read_checkpoint(spark, out_dir, man)
        if not man.get("schema"):
            _write_manifest(out_dir, {**man, "schema": out.schema.jsonValue()})
        return out

    t0 = time.monotonic()
    df = build()
    df.write.mode("overwrite").parquet(out_dir)
    lineage = [{"partition_id": i, "rows": f["rows"]}
               for i, f in enumerate(collect_files(out_dir))]
    manifest = {
        "stage": stage,
        "input_fingerprint": input_fingerprint,
        "schema": _as_nullable(df.schema).jsonValue(),
        "n_rows": sum(p["rows"] for p in lineage),
        "n_partitions": len(lineage),
        "partitions": lineage,
        "wall_ms": int((time.monotonic() - t0) * 1000),
    }
    _write_manifest(out_dir, manifest)
    return _read_checkpoint(spark, out_dir, manifest)


def _fingerprint_aggs():
    """Order-insensitive multiset combiner over row hashes.

    xor alone pair-cancels (A xor A = 0: swapping two copies of row A
    for two copies of row B goes undetected — ADVICE r01), so combine
    count + xor + an overflow-free decimal SUM of the hashes; a multiset
    change must now shift the sum.
    """
    return [
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(h)").alias("x"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ]


def fingerprint_df(df: DataFrame, sample_cols: list[str] | None = None) -> str:
    """Cheap content fingerprint: count + xor + decimal-sum of row
    hashes; one map-side-combinable aggregation, order-insensitive."""
    cols = sample_cols or df.columns
    h = (
        df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("h"))
        .agg(*_fingerprint_aggs())
        .collect()[0]
    )
    return f"{h['n']}:{h['x']}:{h['s']}"


def fingerprint_partitions(
    df: DataFrame, partition_col: str,
    sample_cols: list[str] | None = None,
) -> dict[str, str]:
    """Per-partition-key content fingerprints in ONE aggregation pass
    (map-side combinable groupBy, no per-key jobs)."""
    cols = [c for c in (sample_cols or df.columns) if c != partition_col]
    rows = (
        df.select(
            F.col(partition_col).cast("string").alias("_pk"),
            F.xxhash64(*[F.col(c) for c in cols]).alias("h"),
        )
        .groupBy("_pk")
        .agg(*_fingerprint_aggs())
        .collect()
    )
    return {r["_pk"]: f"{r['n']}:{r['x']}:{r['s']}" for r in rows}


def fingerprint_partition_dir(in_dir: str, partition_col: str
                              ) -> dict[str, str]:
    """Per-partition fingerprints from FILE METADATA of a hive-layout
    directory (<partition_col>=<key>/...) — zero data scan.

    Content fingerprints (fingerprint_partitions) re-read the whole
    input on every rerun, which at 100 TB costs a full scan even when
    nothing changed; immutable-file stores (parquet/Iceberg snapshots)
    make (name, size, mtime) per file a sound change signal, which is
    what production incremental systems key on.
    """
    import hashlib

    out: dict[str, str] = {}
    prefix = f"{partition_col}="
    for entry in sorted(os.listdir(in_dir)):
        if not entry.startswith(prefix):
            continue
        d = os.path.join(in_dir, entry)
        if not os.path.isdir(d):
            continue
        h = hashlib.sha256()
        for fn in sorted(os.listdir(d)):
            if fn.startswith((".", "_")):
                continue
            full = os.path.join(d, fn)
            if os.path.isdir(full):
                raise ValueError(
                    f"nested partitioning under {d} — directory "
                    f"fingerprints support a single partition level")
            st = os.stat(full)
            h.update(f"{fn}:{st.st_size}:{st.st_mtime_ns}\n".encode())
        out[entry[len(prefix):]] = h.hexdigest()[:32]
    return out


def run_stage_incremental(
    spark: SparkSession,
    stage: str,
    input_df: "DataFrame | str",
    out_dir: str,
    build: "callable",
    partition_col: str,
    force: bool = False,
) -> DataFrame:
    """Partition-level incremental recompute (SURVEY.md §3.2; the Spark
    restatement of the reference's diff-driven re-extraction,
    POSMmanagement/osmdata.py:87-134 — apply a change set, reprocess
    only affected areas).

    The stage's transform must be PARTITION-LOCAL in `partition_col`
    (an output row for key K depends only on input rows with key K —
    true for per-country extraction, per-tile aggregation, per-level
    exports). The manifest stores one fingerprint per input key; a
    rerun fingerprints the new input (one aggregation pass), recomputes
    only changed/new keys through build(changed_subset), and rewrites
    ONLY those output partitions via dynamic partition overwrite.
    Removed input keys drop their output partitions. Unchanged
    partitions are never read, rebuilt, or rewritten.

    Manifest v2: {stage, partition_col, input_partitions: {key: fp},
    last_recomputed: [keys], last_removed: [keys], runs, schema,
    n_rows, n_partitions, partitions: [{partition_key, rows}], wall_ms}.
    Per-output-partition row counts stay the lineage metric, with no
    pass of their own: a full write reads them from the parquet footers
    under each <partition_col>=<key>/; a rerun takes the changed keys'
    counts from the rebuild's per-key count (the same job that finds
    the keys it emitted) and carries the unchanged keys' counts over
    from the previous manifest. `schema` is what spark.read.parquet
    (out_dir) infers, partition column type included: inferred once per
    full write (or when the output key set changes, as the inferred
    partition type depends on the keys) and carried forward otherwise.

    input_df may be a DataFrame (content fingerprints — one aggregation
    scan) or a PATH to a hive-partitioned parquet dir (file-metadata
    fingerprints — ZERO data scan on reruns; the 100-TB mode). A path
    is read only when some key changed, by its stored schema when it is
    itself a checkpoint, so an unchanged rerun runs no Spark job.
    """
    import shutil

    man = read_manifest(out_dir)
    in_dir = input_df if isinstance(input_df, str) else None
    in_fps = (fingerprint_partition_dir(in_dir, partition_col) if in_dir
              else fingerprint_partitions(input_df, partition_col))

    def read_input() -> DataFrame:
        if in_dir is None:
            return input_df
        return _read_checkpoint(spark, in_dir, read_manifest(in_dir))

    # Hive path escaping (':' -> '%3A' etc.) would desync the raw key
    # strings used for rmtree/isin from the escaped directory names —
    # silently resurrecting removed partitions or deleting-without-
    # rebuilding changed ones. Refuse such keys outright; a NULL key
    # (hive's __HIVE_DEFAULT_PARTITION__) is equally unsupported and
    # must raise ValueError, not TypeError (ADVICE r02).
    bad = [k for k in in_fps if k is None or not _SAFE_KEY.fullmatch(k)]
    if bad:
        raise ValueError(
            f"partition keys need hive path escaping (unsupported here):"
            f" {bad[:5]} — restrict {partition_col} to non-null"
            f" [A-Za-z0-9_.-]")

    prev_fps = (man or {}).get("input_partitions")
    compatible = (
        man is not None
        and not force
        and man.get("stage") == stage
        and man.get("partition_col") == partition_col
        and prev_fps is not None
    )
    t0 = time.monotonic()
    if not compatible:
        changed = sorted(in_fps)
        removed: list[str] = []
        df = build(read_input())
        (df.write.mode("overwrite").partitionBy(partition_col)
           .parquet(out_dir))
        counts: dict[str, int] = {}
        for f in collect_files(out_dir):
            k = f["partition"][partition_col]
            counts[k] = counts.get(k, 0) + f["rows"]
        schema = None
    else:
        changed = sorted(
            k for k, fp in in_fps.items() if prev_fps.get(k) != fp)
        removed = sorted(k for k in prev_fps if k not in in_fps)
        prev_counts = {p["partition_key"]: p["rows"]
                       for p in man.get("partitions", [])}
        counts = {k: n for k, n in prev_counts.items()
                  if k in in_fps and k not in changed}
        for k in removed:
            shutil.rmtree(
                os.path.join(out_dir, f"{partition_col}={k}"),
                ignore_errors=True)
        if changed:
            subset = read_input().filter(
                F.col(partition_col).cast("string").isin(changed))
            # persist so the write and the emitted-keys count see ONE
            # evaluation of build(): re-executing a nondeterministic or
            # input-racing build could make `emitted` disagree with what
            # was written, wrongly rmtree-ing a written partition or
            # keeping a stale one (ADVICE r02)
            out_sub = build(subset).persist()
            (out_sub.write.mode("overwrite")
               .option("partitionOverwriteMode", "dynamic")
               .partitionBy(partition_col).parquet(out_dir))
            # dynamic overwrite only touches keys present in the new
            # result — a changed key whose rebuild emits 0 rows must
            # still drop its stale output partition.
            emitted = {
                str(r["_pk"]): int(r["count"]) for r in out_sub.groupBy(
                    F.col(partition_col).cast("string").alias("_pk")
                ).count().collect()
            }
            out_sub.unpersist()
            for k in changed:
                if k not in emitted:
                    shutil.rmtree(
                        os.path.join(out_dir, f"{partition_col}={k}"),
                        ignore_errors=True)
            counts.update(emitted)
        schema = man.get("schema") if set(counts) == set(prev_counts) \
            else None
    if schema is None:
        schema = spark.read.parquet(out_dir).schema.jsonValue()

    manifest = {
        "stage": stage,
        "partition_col": partition_col,
        "input_partitions": in_fps,
        "last_recomputed": changed,
        "last_removed": removed,
        "runs": (man or {}).get("runs", 0) + 1,
        "schema": schema,
        "n_rows": sum(counts.values()),
        "n_partitions": len(counts),
        "partitions": [{"partition_key": k, "rows": counts[k]}
                       for k in sorted(counts)],
        "wall_ms": int((time.monotonic() - t0) * 1000),
    }
    _write_manifest(out_dir, manifest)
    return _read_checkpoint(spark, out_dir, manifest)


def manifest_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """Surface a stage manifest's per-partition lineage as a DataFrame
    (partition_key, rows, recomputed_last_run, input_fingerprint)."""
    man = read_manifest(out_dir) or {}
    recomputed = set(man.get("last_recomputed", []))
    fps = man.get("input_partitions", {})
    rows = [
        (
            p.get("partition_key", str(p.get("partition_id"))),
            int(p["rows"]),
            p.get("partition_key") in recomputed,
            fps.get(p.get("partition_key"), ""),
        )
        for p in man.get("partitions", [])
    ]
    return spark.createDataFrame(
        rows,
        "partition_key string, rows long, recomputed_last_run boolean,"
        " input_fingerprint string",
    )


def incremental_manifest_oracle_sql() -> str:
    """The incremental_manifest registry query under the oracle gate
    (promotes the r04 rows-only entry): DuckDB re-derives the recompute
    DECISION (doc 7's lang is the only partition whose input changed
    between the two runs) and the post-rerun stage output (per-lang
    aggregates over the MUTATED input) straight from the documents
    table. A stale-partition bug (rerun skips the changed key) or a
    wrong-subset rebuild (recomputes a partition from a filtered input)
    diverges from this SQL. The xxhash64 input fingerprints are
    engine-internal and stay pinned by tests/test_lineage.py."""
    return """
SELECT lang AS partition_key,
       CAST(1 AS BIGINT) AS rows,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id = 7 THEN n_chars + 1 ELSE n_chars END)
            AS BIGINT) AS sum_chars,
       bool_or(doc_id = 7) AS recomputed_last_run
FROM documents GROUP BY lang
"""
