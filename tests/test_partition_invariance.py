"""Aggregation-order independence, tested for real: the float-heaviest
operators re-run under a deliberately different layout (3 cores, 5
shuffle partitions, 128 KiB input splits) must still match the DuckDB
oracle value-for-value. Any hidden unordered float reduction would
shift values with the partitioning and fail here — this is the
executable form of the 'no unordered float addition' claim every
docstring makes."""
from __future__ import annotations

import decimal
import glob
import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

INVARIANCE_KEYS = [
    "text_unigram_logprob",
    "embedding_centroid_drift",
    "events_type_entropy",
    "raster_contour_segments",
    # round-5 float-bearing additions: norm outliers (integer inequality
    # must hold under any layout), maxsim (sum-of-max over rounded
    # cosines), zonal stats (DECIMAL(38) variance), item-item cosine
    "embedding_norm_outliers",
    "multivector_maxsim",
    "raster_zonal_stats",
    "item_item_similarity",
    # round-6 additions: the Redfearn easting/northing doubles must land
    # in the same 1 km cell under any layout; the combine modes are pure
    # integers but ride a window whose frame order must not depend on
    # partitioning; dedup_clusters pins the signature-collapse rebuild
    "crs_reproject_utm",
    "viewshed_combine_modes",
    "dedup_clusters",
    # round-7 additions: the resampler's interpolation divide must see
    # the same bracketing events under any layout; the incremental dedup
    # pins the signature-identical collapse; the kNN graph and label
    # propagation pin rounded-cosine ranking and majority votes across
    # partitionings
    "events_resample_interpolate",
    "dedup_incremental_minhash",
    "embedding_knn_graph",
    "embedding_label_propagation",
    # round-8 additions: GeoTIFF pixels must reassemble identically from
    # any scene/partition layout; the grid sweep's LOS windows and
    # vis_fraction doubles must not depend on partitioning; the sampled
    # advisor's boundary ranks come from a single deterministic sample
    # however the fact is split; the stored delta dedup pins the
    # store-read path; the watermark dedup's staged batches must produce
    # the same emissions whatever the executor layout
    "raster_ingest_tiff",
    "viewshed_grid_sweep",
    "layout_advisor_sampled",
    "dedup_incremental_minhash_stored",
    "streaming_dedup_watermark",
    # round-9 additions: the COG manifest's per-level aggregates must
    # reassemble identically from any scene layout; the jpeg/h264
    # manifests pin the Arrow-batch tiling/bitstream walks; kmeans_train
    # pins the iterated micro-int centroid trajectory (every round's
    # doubles must be layout-independent); the trained ADC ranking pins
    # the per-subspace training + integer distance sort
    "cog_write_manifest",
    "multimodal_jpeg_manifest",
    "multimodal_h264_features",
    "kmeans_train",
    "ann_ivfpq_trained_topk",
    # round-11 additions: the conic/azimuthal warp doubles must land in
    # the same 1 km cell under any layout; the direct-problem asin
    # series rides pure projections; the JL ordered folds are the
    # textbook case this sweep exists for; the IDW/fill integer weight
    # sums are order-free by construction (asserted here, not assumed);
    # the hydrology fixpoints iterate joins whose per-round results
    # must not depend on partitioning; containment pins the rare-set
    # pair counts
    "crs_reproject_aea",
    "crs_reproject_lcc",
    "geodesic_destination",
    "embedding_random_projection",
    "raster_grid_idw",
    "raster_fill_nodata",
    "raster_flow_accumulation",
    "raster_stream_order",
    "dedup_containment",
    "markov_stationary",
    # round-12 additions: the downsample pair — average's ratio-of-sums
    # (w*cents / w) must see the same exact-integer numerator and
    # denominator under any layout; nearest is a pure projection whose
    # join must not lose or duplicate rows however the scan is split
    "raster_resample_average",
    "raster_resample_nearest",
    # stateful streams: their state-partition count follows the
    # session's cores (min(shuffle partitions, cores)), so the dedup and
    # the bucketed stream join must emit the same rows at any count
    "streaming_dedup",
    "streaming_stream_join",
]


@pytest.fixture(scope="module")
def skewed_spark(spark):
    """Mutate the session's RUNTIME partitioning (getOrCreate would
    silently reuse the existing session and ignore builder confs):
    5 shuffle partitions + 128 KiB splits reshapes every exchange and
    scan, which is exactly the lever that exposes unordered float
    reductions. Restored afterwards."""
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)


def _norm(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return str(v)


@pytest.mark.parametrize("key", INVARIANCE_KEYS)
def test_values_survive_repartitioning(skewed_spark, key):
    con = duckdb.connect()
    for p in glob.glob(f"{SF_DIR}/*.parquet"):
        con.execute(
            f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')"
        )
    sdf = entrymod.queries()[key](skewed_spark, SF_DIR)
    scols = sdf.columns
    order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
    s = sorted(tuple(_norm(r[scols[i]]) for i in order) for r in sdf.collect())
    cur = con.execute(entrymod.oracle_sql()[key])
    dcols = [d[0] for d in cur.description]
    didx = {c.lower(): j for j, c in enumerate(dcols)}
    d = sorted(
        tuple(_norm(row[didx[scols[i].lower()]]) for i in order)
        for row in cur.fetchall()
    )
    assert s == d, f"{key}: values shifted under different partitioning"
