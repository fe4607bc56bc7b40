"""Seeded input generation for the benchmark workloads.

posmspark.synth's generators take no seed, so the benchmark keeps their
shapes and mixes the seed into every draw: the same seed gives the same
files, a different seed gives different documents with the same
structure (exact-duplicate clusters of at most 25, ~4% near-duplicates,
~30% boilerplate prefix, a 5000-word vocabulary; ~70% geotagged pages of
which 10% sit in the hot cell, via posmspark.pipeline.pages_from_documents).

Inputs are written once per run, before anything is timed, under the
work directory; the program and the oracles read the same files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

LANGS = ["en", "fr", "es", "de", "ne"]


def documents(n: int, seed: int):
    """The synth.documents_df shape as an Arrow table, drawn from a
    seeded generator: doc_id, text, lang, source, n_chars, as in the
    documents.parquet test fixtures. Classes 0-9 of 100 are exact
    duplicates and 10-13 near duplicates (one appended token) of their
    block's first document (blocks of 25 ids); 30% of texts start with
    the same boilerplate; other tokens are drawn from 5000 words."""
    import pyarrow as pa

    rng = np.random.default_rng([int(seed), 1])
    ids = np.arange(n, dtype=np.int64)
    cls = rng.integers(0, 100, n)
    rep = np.where(cls < 14, ids - ids % 25, ids)
    n_tok = rng.integers(25, 65, n)
    toks = rng.integers(0, 5000, (n, 64))
    boiler = rng.random(n) < 0.3
    source = rng.integers(0, 20, n)
    vocab = np.array([f"w{k}" for k in range(5000)], dtype=object)
    texts = []
    for i in range(n):
        r = rep[i]
        t = " ".join(vocab[toks[r, :n_tok[r]]])
        if boiler[r]:
            t = "all rights reserved by example corp " + t
        if 10 <= cls[i] < 14:
            t += f" nd{i}"
        texts.append(t)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i % 5] for i in range(n)], pa.string()),
        "source": pa.array([f"s{v}" for v in source], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(sf_dir: str, table) -> None:
    """documents.parquet as ONE file with one row group — the layout of
    the test fixtures, where the scan cannot split (the case
    session.spread_input exists for)."""
    import pyarrow.parquet as pq

    d = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-0.parquet"),
                   row_group_size=max(table.num_rows, 1))


def write_doc_pair(base: str, changed: str, n: int, seed: int,
                   lang: str, shifted_seed: int) -> None:
    """documents for `base`, and for `changed` the same table with the
    rows of one lang replaced by the rows a shifted seed draws."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = documents(n, seed)
    write_documents(base, t)
    mask = pc.equal(t["lang"], lang)
    shifted = documents(n, shifted_seed)
    write_documents(changed, pa.table(
        {c: pc.if_else(mask, shifted[c], t[c]) for c in t.column_names}))


def write_embeddings(sf_dir: str, n: int, seed: int, dim: int = 64) -> None:
    """embeddings.parquet (vec_id, embedding list<float>, label int):
    10 label clusters; every 20th vector is the near-duplicate twin of
    its predecessor (cosine ~0.9999)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([int(seed), 7])
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    emb = centers[label] * 0.4 + rng.normal(size=(n, dim))
    twins = np.arange(20, n, 20)
    emb[twins] = emb[twins - 1] + rng.normal(scale=1e-3, size=(len(twins), dim))
    label[twins] = label[twins - 1]
    emb = emb.astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(label),
    })
    os.makedirs(os.path.join(sf_dir, "embeddings.parquet"), exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "embeddings.parquet",
                                       "part-0.parquet"))


def write_pages(spark, sources: dict, out: str, n_files: int,
                partition_by: str | None = None,
                only_changed: str | None = None) -> None:
    """Pages derived by the shipped pipeline.pages_from_documents from
    each {name: sf_dir} documents table, written in one job to
    out/set=<name>/ (optionally hive-partitioned below that). With
    only_changed, the "changed" set keeps only that lang's rows."""
    from functools import reduce

    from pyspark.sql import functions as F

    from posmspark.pipeline import pages_from_documents

    pages = reduce(lambda a, b: a.unionByName(b), [
        pages_from_documents(spark, d).withColumn("set", F.lit(name))
        for name, d in sources.items()])
    if only_changed:
        pages = pages.filter((F.col("set") != "changed")
                             | (F.col("lang") == only_changed))
    keys = ["set"] + ([partition_by] if partition_by else [])
    (pages.repartition(n_files).write.mode("overwrite").partitionBy(*keys)
     .parquet(out))


def link_tree(src: str, dst: str) -> None:
    """Copy a directory tree by hard links: a new path (so plan-keyed
    caches cannot match an earlier pass) at no copy cost."""
    os.makedirs(dst, exist_ok=True)
    for entry in os.listdir(src):
        s, d = os.path.join(src, entry), os.path.join(dst, entry)
        if os.path.isdir(s):
            link_tree(s, d)
        else:
            os.link(s, d)


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
