"""Per-layer measurements, driven through the package's public entry points.

`traced_pipeline` composes the `operators.*` stage functions the way
`DedupPipeline.run` does, but materializes each stage inside its own span,
so stage time, Spark counters and output rows are attributed per layer
(`checks.pipeline_drift` holds its output to run()'s).
`kernel_layers` times `compute_signatures_pdf` and the `functions.*`
kernels it calls in this one process, with no Spark; `arrow_identity` runs
the Arrow boundary alone.
"""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from sparkdedup.operators import signatures
from sparkdedup.operators.components import connected_components
from sparkdedup.operators.containment import (anchor_containment_candidates,
                                              verify_containment)
from sparkdedup.operators.lsh import candidate_pairs
from sparkdedup.operators.signatures import signature_stage
from sparkdedup.operators.verify import verify_candidates, verify_pairs_pdf

PIPELINE_SPANS = ("operators.signatures", "pipeline.presha", "operators.lsh",
                  "operators.verify", "operators.containment.candidates",
                  "operators.containment.verify", "pipeline.edges",
                  "operators.components")
# the kernels compute_signatures_pdf calls, by the name it calls them
_KERNEL_NAMES = {"token_hashes_batch": "token_hashes_s",
                 "shingle_hashes_batch": "shingle_hashes_s",
                 "minhash_signatures_segmented": "minhash_s",
                 "simhash_segmented": "simhash_s",
                 "murmur3_128_int64_rows": "band_hash_s"}
KERNELS = tuple(_KERNEL_NAMES.values())
# Arrow batches are capped at 512 KiB by sparkdedup.session.build_session;
# the single-process kernel rungs see batches of the same size
BATCH_BYTES = 524288


def _parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in path.rglob("*.parquet"))


def traced_pipeline(spark, tracer, files, cfg, workdir: str, num_partitions: int) -> dict:
    """One pipeline pass, stage by stage, each stage in its own span.
    Returns the stage outputs the per-layer ratios are computed from."""
    wd = Path(workdir)
    with tracer.span("operators.signatures") as s:
        signature_stage(files, cfg, num_partitions).write.parquet(str(wd / "signatures"))
        sigs = spark.read.parquet(str(wd / "signatures"))
        s["rows_out"] = _parquet_rows(wd / "signatures")

    with tracer.span("pipeline.presha") as s:
        reps = sigs.groupBy("sha").agg(F.min("file_id").alias("rep"))
        exact = (sigs.join(reps, "sha").filter(F.col("file_id") != F.col("rep"))
                 .select(F.col("rep").alias("src"), F.col("file_id").alias("dst")))
        rep_sigs = sigs.join(reps.select(F.col("rep").alias("file_id")), "file_id",
                             "left_semi").cache()
        s["rows_out"] = rep_sigs.count()

    with tracer.span("operators.lsh") as s:
        cands = candidate_pairs(rep_sigs, cfg).localCheckpoint()
        s["rows_out"] = cands.count()

    with tracer.span("operators.verify") as s:
        near = verify_candidates(cands, rep_sigs, cfg).localCheckpoint()
        s["rows_out"] = near.count()

    with tracer.span("operators.containment.candidates") as s:
        cont_cand = anchor_containment_candidates(rep_sigs, cfg).localCheckpoint()
        s["rows_out"] = cont_cand.count()

    with tracer.span("operators.containment.verify") as s:
        cand_ids = (cont_cand.select(F.col("src").alias("file_id"))
                    .unionByName(cont_cand.select(F.col("dst").alias("file_id")))
                    .distinct())
        sig_keys = (sigs.join(cand_ids, "file_id", "left_semi")
                    .select("file_id", "repo", "path", "commit"))
        fid_content = (files.join(F.broadcast(sig_keys), ["repo", "path", "commit"])
                       .select("file_id", "content"))
        cont = verify_containment(cont_cand, fid_content, cfg).localCheckpoint()
        s["rows_out"] = cont.count()

    with tracer.span("pipeline.edges") as s:
        # the same edge table, columns included, that DedupPipeline.run writes
        def const(df, jaccard, hamming, source):
            return df.select("src", "dst", *[
                F.lit(jaccard).cast("double").alias(c)
                for c in ("jaccard", "jaccard_lb", "jaccard_ub", "minhash_jaccard")],
                F.lit(hamming).cast("int").alias("hamming"), F.lit(source).alias("source"))

        edges = (near.withColumn("source", F.lit("lsh"))
                 .unionByName(const(exact, 1.0, 0, "sha"))
                 .unionByName(const(cont, None, None, "containment")))
        edges.write.parquet(str(wd / "edges"))
        edges = spark.read.parquet(str(wd / "edges"))
        s["rows_out"] = _parquet_rows(wd / "edges")
    rep_local = rep_sigs.select("file_id", "bands", "kmv", "kmv_theta", "kmv_count",
                                "minh", "simhash").toPandas()
    rep_sigs.unpersist()

    with tracer.span("operators.components") as s:
        clusters, rounds = connected_components(edges.select("src", "dst"),
                                                sigs.select("file_id"), cfg)
        clusters.write.parquet(str(wd / "clusters"))
        s["rows_out"] = _parquet_rows(wd / "clusters")

    return {"edges": edges,
            "clusters": spark.read.parquet(str(wd / "clusters")),
            "rep_sigs": rep_local,
            "candidates": cands.toPandas(),
            "n_near": tracer.get("operators.verify")["rows_out"],
            "n_cont_cand": tracer.get("operators.containment.candidates")["rows_out"],
            "n_cont": tracer.get("operators.containment.verify")["rows_out"],
            "rounds": rounds}


def bucket_stats(bands: pd.Series, bucket_cap: int) -> tuple[int, int]:
    """(largest LSH bucket, rows in buckets above bucket_cap) over a band table."""
    mat = np.stack(bands.to_numpy())
    biggest, mega = 0, 0
    for b in range(mat.shape[1]):
        _, counts = np.unique(mat[:, b], return_counts=True)
        biggest = max(biggest, int(counts.max()))
        mega += int(counts[counts > bucket_cap].sum())
    return biggest, mega


def verify_kernel_s(rep_sigs: pd.DataFrame, candidates: pd.DataFrame, cfg,
                    batch_rows: int = 4096) -> float:
    """Single-process seconds of verify_pairs_pdf over every candidate pair,
    in batches of `batch_rows` pairs."""
    pos = pd.Series(np.arange(len(rep_sigs)), index=rep_sigs["file_id"].to_numpy())
    ia = pos.loc[candidates["src"].to_numpy()].to_numpy()
    ib = pos.loc[candidates["dst"].to_numpy()].to_numpy()
    side = {"kmv": "kmv", "kmv_theta": "theta", "kmv_count": "count",
            "minh": "minh", "simhash": "sim"}
    cols = {"src": candidates["src"].to_numpy(), "dst": candidates["dst"].to_numpy()}
    for col, short in side.items():
        vals = rep_sigs[col].to_numpy()
        cols[f"{short}_a"], cols[f"{short}_b"] = vals[ia], vals[ib]
    pdf = pd.DataFrame(cols)
    t = 0.0
    for i in range(0, len(pdf), batch_rows):
        part = pdf.iloc[i:i + batch_rows]
        t0 = time.perf_counter()
        verify_pairs_pdf(part, cfg)
        t += time.perf_counter() - t0
    return t


def _batches(files: pd.DataFrame) -> list[pd.DataFrame]:
    sizes = files["content"].str.len().to_numpy()
    out, start, acc = [], 0, 0
    for i, n in enumerate(sizes):
        if acc and acc + n > BATCH_BYTES:
            out.append(files.iloc[start:i])
            start, acc = i, 0
        acc += n
    out.append(files.iloc[start:])
    return out


def kernel_layers(files: pd.DataFrame, cfg) -> dict[str, float]:
    """One single-process `compute_signatures_pdf` pass over the workload's
    own files, in Arrow-sized batches.

    `signature_kernel_mb_per_s` is the whole function; each `*_s` entry is
    the seconds of one `functions.*` kernel within that pass, timed by
    swapping the name the signatures module calls for a timing wrapper."""
    times = dict.fromkeys(KERNELS, 0.0)

    def timed(key, fn):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                times[key] += time.perf_counter() - t0
        return wrapper

    saved = {name: getattr(signatures, name) for name in _KERNEL_NAMES}
    for name, key in _KERNEL_NAMES.items():
        setattr(signatures, name, timed(key, saved[name]))
    try:
        t_all = 0.0
        for b in _batches(files):
            t0 = time.perf_counter()
            signatures.compute_signatures_pdf(b, cfg)
            t_all += time.perf_counter() - t0
    finally:
        for name, fn in saved.items():
            setattr(signatures, name, fn)
    mb = files["content"].str.len().sum() / 1e6
    return {"signature_kernel_s": t_all, "signature_kernel_mb_per_s": mb / t_all, **times}


def arrow_identity(files, num_partitions: int) -> None:
    """An identity mapInPandas over the signature stage's input, partitioned
    the same way: the Arrow boundary with no kernel."""
    df = (files.select("repo", "path", "commit", "lang", "content")
          .repartition(num_partitions, F.xxhash64("repo", "path", "commit")))
    df.mapInPandas(lambda it: it, schema=df.schema).write.format("noop").mode(
        "overwrite").save()
