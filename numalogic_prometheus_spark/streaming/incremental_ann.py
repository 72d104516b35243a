"""Streaming incremental ANN: foreachBatch serving against a persistent
IVF index.

The streaming realization of ``vec_ann_incremental_batch``
(plans/vectors4.py) and the ANN twin of the incremental-dedup sink
(streaming/incremental_dedup.py — reference anchor: the pipeline is a
continuously-fed stream, /root/reference/CHANGELOG.md:10,90): each
micro-batch of newly ingested embeddings is served top-k neighbors from
the index built over PRIOR batches — never against the accumulated
corpus as a whole and never against itself — then appended to the index
as a new snapshot.

Index layout, ``{index_dir}/``:

* ``centroids/`` — the coarse quantizer, written ONCE by the first
  batch (deterministic slice ``vec_id % 31 == 0`` of that batch, so a
  replay rewrites bit-identical content; a trained k-means artifact
  would slot in here unchanged). ``_SUCCESS``-gated like every other
  snapshot relation in this repo (sources/layout.py convention).
* ``snap={batch_id}/`` — the accumulated ``(vec_id, cell, v, nv)``
  assignment relation, PARTITIONED BY ``cell``: the inverted-file
  layout itself, so a probe reading ``cell IN (...)`` prunes to the
  probed partitions at the scan (FAISS's inverted lists, expressed as
  a parquet partition scheme). A snap dir without ``_SUCCESS`` (crash
  mid-write) is skipped, so a partial snapshot can never serve.

Per-trigger work is |batch|×C probe distances (C centroids, broadcast)
plus an exact re-rank over the probed cells' members only. The
foreachBatch sink is EXACTLY idempotent on batch_id: it reads the
newest committed snapshot with id strictly below its own batch_id, so
a replayed batch serves from the same pre-batch index its first
delivery saw and rewrites bit-identical results and snapshot — it can
never read (or race the overwrite of) its own output. The snapshot
merge is a union + drop-duplicates-by-vec_id (append-only corpus), so
the merge is order-insensitive and idempotent like the dedup sink's
min-merge; a production deployment would write per-batch deltas and
compact, which is the same union shape run less often.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.vectors import (
    cell_argmin_key,
    dot_product,
    l2_norm,
    to_double_array,
)

_INDEX_SCHEMA = "vec_id long, cell long, v array<double>, nv double"
_CENTROID_FILTER = "vec_id % 31 = 0"  # mirrors plans/vectors2.py


def featurize_vectors(batch: DataFrame) -> DataFrame:
    """(vec_id, embedding) → (vec_id, v double[], nv): the same
    widen-then-norm featurization as the batch ANN plans."""
    return batch.select(
        "vec_id", to_double_array("embedding").alias("v")
    ).withColumn("nv", l2_norm("v"))


# Composite argmin key: rounded cosine distance in 1e-6 units, centroid
# id tiebreak — BIGINT-exact, cent_id guarded < TIEBREAK_MOD so the id
# never bleeds into the distance component (functions/vectors.py).
_dist_key = cell_argmin_key


_FALLBACK_CENTROIDS = 8  # quantizer size when the id-slice misses the batch


def derive_centroids(feat: DataFrame) -> DataFrame:
    """Deterministic quantizer slice of a batch. If the id-modulus slice
    is empty (small or adversarially-keyed first batch), fall back to the
    batch's lowest vec_ids — still a pure function of the batch, so a
    replay rewrites bit-identical content. The caller must never commit
    an empty quantizer: with zero centroids every later assign_cells
    crossJoin yields zero assignments and the index silently drops all
    vectors forever (ADVICE r9)."""
    cents = feat.filter(F.expr(_CENTROID_FILTER))
    if cents.isEmpty():
        cents = feat.orderBy("vec_id").limit(_FALLBACK_CENTROIDS)
    return cents.select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nv").alias("nc"),
    )


def assign_cells(feat: DataFrame, cents: DataFrame) -> DataFrame:
    """Every featurized vector's nearest-centroid cell (min_by partial
    agg over the broadcast centroid expansion — one |feat|-row exchange)."""
    keyed = feat.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        _dist_key(
            F.col("v"), F.col("nv"), F.col("cv"), F.col("nc"),
            F.col("cent_id"),
        ).alias("key"),
    )
    assign = keyed.groupBy("vec_id").agg(
        F.min_by("cent_id", "key").alias("cell")
    )
    return assign.join(feat, "vec_id").select("vec_id", "cell", "v", "nv")


def probe_topk(
    feat: DataFrame, cents: DataFrame, index: DataFrame,
    k: int = 3, nprobe: int = 2,
) -> DataFrame:
    """Top-k existing neighbors per batch vector: nprobe nearest cells
    from the broadcast centroids, exact cosine re-rank against only
    those cells' index members (the plans/vectors4.py serving plan, with
    the index side read from the snapshot instead of recomputed)."""
    wq = W.partitionBy("query_id").orderBy("key")
    probes = (
        feat.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nv").alias("nqv"),
        )
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "nqv",
            F.col("cent_id").alias("cell"),
            _dist_key(
                F.col("qv"), F.col("nqv"), F.col("cv"), F.col("nc"),
                F.col("cent_id"),
            ).alias("key"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .drop("rn", "key")
    )
    wk = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        F.broadcast(probes).join(index, "cell")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot_product("qv", "v")
                / (F.col("nqv") * F.col("nv")),
                6,
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
    )


def _latest_snapshot(index_dir: str, before: int | None = None) -> str | None:
    if not os.path.isdir(index_dir):
        return None
    ids = sorted(
        (
            int(d.split("=", 1)[1])
            for d in os.listdir(index_dir)
            if d.startswith("snap=")
        ),
        reverse=True,
    )
    for sid in ids:
        if before is not None and sid >= before:
            continue
        if os.path.exists(os.path.join(index_dir, f"snap={sid}", "_SUCCESS")):
            return os.path.join(index_dir, f"snap={sid}")
    return None


def read_index(
    spark: SparkSession, index_dir: str, before: int | None = None
) -> DataFrame:
    """Latest committed assignment snapshot (id < ``before`` when given),
    or an empty frame with the index schema. The partition column
    ``cell`` is restored to a long (partitionBy writes it as a
    discovered partition column)."""
    snap = _latest_snapshot(index_dir, before=before)
    if snap is None:
        return spark.createDataFrame([], _INDEX_SCHEMA)
    df = spark.read.parquet(snap)
    return df.select(
        "vec_id", F.col("cell").cast("long").alias("cell"), "v", "nv"
    )


def read_centroids(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The committed quantizer, or None before the first batch landed."""
    cdir = os.path.join(index_dir, "centroids")
    if not os.path.exists(os.path.join(cdir, "_SUCCESS")):
        return None
    return spark.read.parquet(cdir)


def make_incremental_ann_sink(
    index_dir: str, result_dir: str, k: int = 3, nprobe: int = 2
):
    """foreachBatch handler: serve top-k neighbors for the micro-batch
    from the pre-batch index, then append the batch to a new snapshot.
    Bind with ``.writeStream.foreachBatch(...)``."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        feat = batch_df.transform(featurize_vectors).localCheckpoint(
            eager=True
        )
        if feat.isEmpty():
            # Empty micro-batch (common for batch 0 of file/rate
            # sources): commit NOTHING — in particular not the
            # quantizer, which would otherwise pin an empty centroid
            # set under _SUCCESS forever. The next non-empty batch
            # defines it instead.
            return
        cents = read_centroids(spark, index_dir)
        if cents is None:
            # First committed NON-EMPTY batch defines the quantizer.
            # Deterministic from the batch (id-slice, or lowest-id
            # fallback), so a replay rewrites identical content;
            # derive_centroids is non-empty by construction here.
            derive_centroids(feat).write.mode("overwrite").parquet(
                os.path.join(index_dir, "centroids")
            )
            cents = read_centroids(spark, index_dir)
        index = read_index(spark, index_dir, before=batch_id)
        probe_topk(feat, cents, index, k=k, nprobe=nprobe).write.mode(
            "overwrite"
        ).parquet(os.path.join(result_dir, f"batch={batch_id}"))
        merged = (
            index.unionByName(assign_cells(feat, cents))
            .dropDuplicates(["vec_id"])
        )
        merged.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(index_dir, f"snap={batch_id}")
        )

    return _sink
